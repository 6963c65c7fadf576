package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Cluster resolution (connected components over near-dup pairs) and
  * benchmark decontamination. */
class ClusterContaminationSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents finds min-label components") {
    // chain 1-2-3, pair 7-9, self-contained 4-5-6 triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (4L, 5L), (5L, 6L),
      (4L, 6L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L,
      4L -> 4L, 5L -> 4L, 6L -> 4L))
  }

  test("connectedComponents converges on a long chain (distributed path)") {
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // localMaxPairs = 0 forces the distributed propagation loop
    val got = Dedup.connectedComponents(pairs, maxIter = 40,
      localMaxPairs = 0L).collect()
    assert(got.length == 31)
    assert(got.forall(_.getLong(1) == 0L), "whole chain labels to 0")
  }

  test("connectedComponents throws LOUDLY when maxIter is too small") {
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](
      Dedup.connectedComponents(pairs, maxIter = 3, localMaxPairs = 0L)
        .collect())
    assert(e.getMessage.contains("did not converge"))
  }

  test("local union-find agrees with the distributed propagation") {
    // deterministic pseudo-random graph: chains, triangles, crossings
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = toMap(Dedup.connectedComponents(pairs))
    val dist = toMap(Dedup.connectedComponents(pairs, localMaxPairs = 0L))
    assert(local == dist, "strategy switch changes component labels")
    // string ids: lexicographic min must drive the rep on both paths
    val spairs = Seq(("b", "c"), ("c", "a"), ("x", "y")).toDF("id_a", "id_b")
    def toMapS(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(toMapS(Dedup.connectedComponents(spairs)) ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("id types without a proven driver-side ordering stay distributed") {
    // DateType has no localOrdering entry: the size switch must route
    // to the distributed loop (which handles any orderable type via
    // least()) instead of crashing in the union-find's comparator
    val pairs = Seq(("2020-01-02", "2020-01-01"), ("2020-03-01", "2020-03-02"))
      .toDF("id_a", "id_b")
      .select(col("id_a").cast("date"), col("id_b").cast("date"))
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getDate(0).toString -> r.getDate(1).toString).toMap
    assert(got == Map(
      "2020-01-01" -> "2020-01-01", "2020-01-02" -> "2020-01-01",
      "2020-03-01" -> "2020-03-01", "2020-03-02" -> "2020-03-01"))
  }

  test("resolveClusters keeps min-id per cluster and singletons") {
    val all = (1L to 10L).toDF("doc_id")
    val pairs = Seq((2L, 5L), (5L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.resolveClusters(all, "doc_id", pairs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got(2L) == (2L, 3L, true))
    assert(got(5L) == (2L, 3L, false))
    assert(got(9L) == (2L, 3L, false))
    assert(got(1L) == (1L, 1L, true)) // singleton keeps itself
    assert(got.values.count(_._3) == 8) // 7 singletons + 1 cluster rep
  }

  test("packSequences matches a single-threaded prefix sum at any partitioning") {
    val docs = (1L to 57L)
      .map(i => (i, ("tok " * (i % 13 + 1).toInt).trim))
      .toDF("doc_id", "text")
    for (nPart <- Seq(1, 4, 16)) {
      val got = graft.operators.TextAnalysis
        .packSequences(docs, "doc_id", "text", budget = 10,
          partitions = nPart)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      var cum = 0L
      val exp = (1L to 57L).map { i =>
        val n = i % 13 + 1
        val row = (i, n, cum / 10, cum % 10)
        cum += n
        row
      }
      assert(got.toSeq == exp, s"mismatch at partitions=$nPart")
    }
  }

  test("hashSplit is deterministic and roughly honors the weights") {
    val docs = (1L to 2000L).toDF("doc_id")
    val split = graft.operators.TextAnalysis.hashSplit(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == 2000)
    assert(counts("train") > 1500 && counts("train") < 1700)
    assert(counts("val") > 130 && counts("val") < 270)
    // same salt -> identical assignment; different salt -> different
    val a = split.orderBy("doc_id").collect().map(_.getString(1)).toSeq
    val b = graft.operators.TextAnalysis.hashSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(a == b)
    val c = graft.operators.TextAnalysis.hashSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "other")
      .orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(a != c)
  }

  test("stratifiedSample honors per-group rates deterministically") {
    import graft.operators.TextAnalysis
    val docs = (1L to 3000L).map(i =>
        (i, if (i % 3 == 0) "code" else if (i % 3 == 1) "web" else "books"))
      .toDF("doc_id", "domain")
    val rates = Map("code" -> 0.9, "web" -> 0.2)
    val kept = TextAnalysis.stratifiedSample(docs, "doc_id", "domain",
      rates, defaultRate = 0.5)
    val counts = kept.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("code") > 850 && counts("code") <= 1000)
    assert(counts("web") > 120 && counts("web") < 280)
    assert(counts("books") > 400 && counts("books") < 600) // defaultRate
    // deterministic: same call -> identical row set
    val a = kept.orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val b = TextAnalysis.stratifiedSample(docs, "doc_id", "domain",
        rates, defaultRate = 0.5)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(a == b)
    // rate 0 drops a group entirely; rate validation rejects nonsense
    val none = TextAnalysis.stratifiedSample(docs, "doc_id", "domain",
      Map("code" -> 0.0), defaultRate = 0.0)
    assert(none.count() == 0)
    assertThrows[IllegalArgumentException] {
      TextAnalysis.stratifiedSample(docs, "doc_id", "domain",
        Map("code" -> 1.5))
    }
  }

  test("scrubPii redacts emails/IPs/phones and counts them") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "mail a.b+c@test.org or x@y.io, host 192.168.0.1, tel +44 204 7946000"),
      (2L, "clean text, version 1.2 only")).toDF("doc_id", "text")
    val got = TextAnalysis.scrubPii(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    assert(r1.getString(1) ==
      "mail <EMAIL> or <EMAIL>, host <IP>, tel <PHONE>")
    assert(r1.getInt(2) == 2 && r1.getInt(3) == 1 && r1.getInt(4) == 1)
    val r2 = got(2L)
    assert(r2.getString(1) == "clean text, version 1.2 only")
    assert(r2.getInt(2) == 0 && r2.getInt(3) == 0 && r2.getInt(4) == 0)
  }

  test("unigramLogProbs matches hand-computed cross-entropy") {
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "aa aa bb"), (2L, "bb cc"), (3L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProbs(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // N=5: p(aa)=p(bb)=0.4, p(cc)=0.2
    val b4 = -math.log(0.4) / math.log(2)
    val b2 = -math.log(0.2) / math.log(2)
    assert(got(1L)._1 == 3 && math.abs(got(1L)._2 - b4) < 1e-9)
    assert(got(2L)._1 == 2 && math.abs(got(2L)._2 - (b4 + b2) / 2) < 1e-9)
    assert(!got.contains(3L)) // zero-token doc emits no row
  }

  test("tokenHistogram buckets cover every doc exactly once") {
    import graft.operators.TextAnalysis
    val docs = Seq("one", "one two three", ("w " * 25).trim, "")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val h = TextAnalysis.tokenHistogram(docs, "text", bucketWidth = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(h.map(_._3).sum == 4) // every doc in exactly one bucket
    assert(h.forall { case (lo, hi, _) => hi - lo == 10 })
    // 25 tokens -> bucket [20, 30)
    assert(h.exists { case (lo, _, n) => lo == 20 && n == 1 })
    // 0, 1, 3 tokens -> bucket [0, 10) with 3 docs
    assert(h.exists { case (lo, _, n) => lo == 0 && n == 3 })
  }

  test("dedupSpans drops duplicate normalized lines, keeps first + blanks") {
    val docs = Seq(
      (1L, "Header\nalpha beta\n\nfooter"),
      (2L, "HEADER  \ngamma delta\nfooter"), // case/trim-normalized dup
      (3L, "unique only")).toDF("doc_id", "text")
    val got = Dedup.dedupSpans(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 holds every first occurrence (incl. the blank structural line)
    assert(got(1L) == ("Header\nalpha beta\n\nfooter", 4L, 0L))
    // doc 2 loses the normalized 'header' dup and the footer
    assert(got(2L) == ("gamma delta", 3L, 2L))
    assert(got(3L) == ("unique only", 1L, 0L))
  }

  test("keepBestOfCluster keeps the highest-quality member per cluster, " +
      "ties to the lowest id; singletons keep themselves") {
    val docs = Seq((1L, 10.0), (2L, 30.0), (3L, 30.0), (4L, 5.0),
      (9L, 1.0)).toDF("doc_id", "q")
    // cluster {1,2,3} via pairs; 4 and 9 singletons
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.keepBestOfCluster(docs, "doc_id", "q", pairs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getBoolean(4))).toMap
    // 2 and 3 tie at q=30 -> 2 (lower id) is kept; rep stays min-id 1
    assert(got(1L) == ((1L, 3L, false)))
    assert(got(2L) == ((1L, 3L, true)))
    assert(got(3L) == ((1L, 3L, false)))
    assert(got(4L) == ((4L, 1L, true)))
    assert(got(9L) == ((9L, 1L, true)))
  }

  test("stripBoilerplate removes >=minDocs lines from EVERY doc, keeps " +
      "rarer lines and blanks") {
    val docs = Seq(
      (1L, "Cookie banner\nalpha beta\n\nrare pair"),
      (2L, "COOKIE BANNER  \ngamma delta\nrare pair"), // normalized dup
      (3L, "cookie banner\nunique content here"),
      (4L, "nothing shared at all")).toDF("doc_id", "text")
    val got = Dedup.stripBoilerplate(docs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // the banner (3 docs) vanishes everywhere — including doc 1, which
    // dedupSpans would have let keep it; "rare pair" (2 docs) survives
    assert(got(1L) == ("alpha beta\n\nrare pair", 4L, 1L), got(1L))
    assert(got(2L) == ("gamma delta\nrare pair", 3L, 1L), got(2L))
    assert(got(3L) == ("unique content here", 2L, 1L), got(3L))
    assert(got(4L) == ("nothing shared at all", 1L, 0L), got(4L))
  }

  test("lmPerplexity matches the hand-computed add-k bigram model") {
    import graft.operators.TextAnalysis
    // LM corpus: bigrams (aa,bb)x2 (bb,aa)x1 (bb,cc)x1; prefixes:
    // aa->2, bb->2; V=3
    val lm = Seq((1L, "aa bb aa bb cc")).toDF("doc_id", "text")
    val score = Seq((10L, "aa bb cc"), (11L, "zz aa"), (12L, "solo"))
      .toDF("doc_id", "text")
    val k = 0.5
    val got = TextAnalysis.lmPerplexity(score, "doc_id", "text",
        lm, "text", addK = k)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    def lg2(x: Double) = math.log(x) / math.log(2)
    // doc 10: p(bb|aa)=(2+k)/(2+3k), p(cc|bb)=(1+k)/(2+3k)
    val bits10 = -(lg2((2 + k) / (2 + 3 * k)) +
      lg2((1 + k) / (2 + 3 * k))) / 2
    assert(got(10L)._1 == 2)
    assert(math.abs(got(10L)._2.get - bits10) < 1e-9)
    assert(math.abs(got(10L)._3.get - math.pow(2, bits10)) < 1e-9)
    // doc 11: unseen prefix zz -> smoothing floor p = k/(0 + 3k) = 1/3
    val bits11 = -lg2(1.0 / 3.0)
    assert(got(11L)._1 == 1)
    assert(math.abs(got(11L)._2.get - bits11) < 1e-9)
    // doc 12: one token, no bigram evidence -> NULL scores
    assert(got(12L) == ((0L, None, None)), got(12L))
  }

  test("collocations match hand-computed PMI with deterministic ties") {
    import graft.operators.TextAnalysis
    // bigram stream: doc1 -> (aa,bb)x2 (bb,aa)x1; doc2 -> (aa,bb) (bb,cc)
    // N=5; c_bg: (aa,bb)=3 (bb,aa)=1 (bb,cc)=1
    // c_left: aa=3 bb=2; c_right: bb=3 aa=1 cc=1
    val docs = Seq((1L, "aa bb aa bb"), (2L, "aa bb cc"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text",
        minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getDouble(3)))
    def pmi(cbg: Long, cl: Long, cr: Long) = BigDecimal(
      math.log(cbg.toDouble * 5 / (cl.toDouble * cr)) / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // (bb,aa) and (bb,cc) tie at log2(5/2); tie breaks on (w1, w2)
    assert(got.toSeq == Seq(
      ("bb", "aa", 1L, pmi(1, 2, 1)),
      ("bb", "cc", 1L, pmi(1, 2, 1)),
      ("aa", "bb", 3L, pmi(3, 3, 3))), got.toSeq)
    // minCount prunes before the joins: only (aa,bb) survives >= 2
    val pruned = TextAnalysis.collocations(docs, "text",
        minCount = 2L, topK = 10).collect()
    assert(pruned.length == 1 && pruned.head.getString(0) == "aa")
  }

  test("driftPsi matches the hand-computed smoothed PSI, finite on " +
      "one-sided buckets") {
    import graft.operators.TextAnalysis
    val base = Seq(10.0, 20.0, 60.0, 70.0).toDF("v") // buckets 0x2, 1x2
    val cur = Seq(10.0, 60.0, 60.0, 120.0).toDF("v") // 0x1, 1x2, 2x1
    val got = TextAnalysis.driftPsi(base, cur, "v", bucketWidth = 50.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val eps = 1e-6
    def term(p: Double, q: Double) = BigDecimal(
      (q + eps - (p + eps)) * math.log((q + eps) / (p + eps)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map(
      0L -> ((2L, 1L, term(0.5, 0.25))),
      1L -> ((2L, 2L, term(0.5, 0.5))),
      // bucket 2 exists only in cur: smoothing keeps the term finite
      2L -> ((0L, 1L, term(0.0, 0.25)))), s"$got")
    // identical snapshots drift 0
    val zero = TextAnalysis.driftPsi(base, base, "v", 50.0)
      .agg(sum("psi_term")).collect().head.getDouble(0)
    assert(zero == 0.0)
  }

  test("mixedLanguage votes per line and reports the minority fraction") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      // 2 en lines + 1 de line -> majority en, 1/3 mixed
      (1L, "the quick fox and the dog\nwith some more words of this\nder und die das ist nicht"),
      // single-language doc -> 0 mixed
      (2L, "the cat sat on the mat\nand the dog sat too"),
      // marker-free lines vote 'und'; und majority with one en line
      (3L, "zzz qqq xxx\nvvv www yyy\nthe of and")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.mixedLanguage(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got(1L) == ((3L, "en", 2L, 0.333333)), got(1L))
    assert(got(2L) == ((2L, "en", 2L, 0.0)), got(2L))
    assert(got(3L) == ((3L, "und", 2L, 0.333333)), got(3L))
  }

  test("distinctiveTerms ranks hand-computed per-source PMI") {
    import graft.operators.TextAnalysis
    // counts: A {aa:2, bb:1} tA=3; B {bb:1, cc:1} tB=2; c_aa=2 c_bb=2
    // c_cc=1; T=5
    val docs = Seq(("A", "aa aa bb"), ("B", "bb cc"))
      .toDF("source", "text")
    val got = TextAnalysis.distinctiveTerms(docs, "source", "text",
        minCount = 1L, topK = 2)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    def s(n: Long, tg: Long, ct: Long) = BigDecimal(
      math.log(n.toDouble * 5 / (tg.toDouble * ct)) / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Set(
      ("A", 1, "aa", 2L, s(2, 3, 2)),
      ("A", 2, "bb", 1L, s(1, 3, 2)),
      ("B", 1, "cc", 1L, s(1, 2, 1)),
      ("B", 2, "bb", 1L, s(1, 2, 2))), s"$got")
  }

  test("ngramCoverage scores each eval doc's seen-in-train fraction") {
    val train = Seq((1L, "aa bb cc dd")).toDF("doc_id", "text")
    // train distinct 3-grams: {aa bb cc, bb cc dd}
    val evalSet = Seq(
      (10L, "aa bb cc xx"), // {aa bb cc, bb cc xx} -> 1/2
      (11L, "bb cc dd ee aa bb cc"), // {bb cc dd, cc dd ee, dd ee aa, ee aa bb, aa bb cc} -> 2/5
      (12L, "zz yy")) // no 3-grams -> absent
      .toDF("doc_id", "text")
    val got = Dedup.ngramCoverage(train, "doc_id", "text",
        evalSet, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got == Map(
      10L -> ((2L, 1L, 0.5)),
      11L -> ((5L, 2L, 0.4))), s"$got")
  }

  test("contamination flags docs sharing shingles with the eval set") {
    val train = Seq(
      (1L, "the quick brown fox jumps over lazy dogs today"),
      (2L, "completely unrelated text about cooking pasta sauce"),
      (3L, "short"))
      .toDF("doc_id", "text")
    val evalSet = Seq(
      (100L, "quick brown fox jumps high"))
      .toDF("doc_id", "text")
    val got = Dedup.contamination(train, "doc_id", "text",
        evalSet, "doc_id", "text", n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // doc 1 shares "quick brown fox" and "brown fox jumps"
    assert(got(1L)._1 == 2 && got(1L)._2)
    assert(got(2L) == (0L, false))
    assert(got(3L) == (0L, false)) // too short for any shingle
  }

  test("semanticDedup: keep-first within cluster, cross-cluster pairs never compared") {
    val centroids = Seq(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0))
    val vecs = Seq(
      (1L, Seq(1.0f, 0.01f, 0f, 0f)),   // cluster 0, kept
      (2L, Seq(0.99f, 0.02f, 0f, 0f)),  // cluster 0, ~id 1 → dup_of 1
      (3L, Seq(0.6f, 0.1f, 0.79f, 0f)), // cluster 0, below threshold
      (4L, Seq(0.01f, 1.0f, 0f, 0f)),   // cluster 1, kept
      (5L, Seq(0.7f, 0.72f, 0f, 0f)),   // cluster 1
      (6L, Seq(0.72f, 0.7f, 0f, 0f)))   // cluster 0, cos(5,6)≈1 but the
      .toDF("vec_id", "embedding")      //   pair spans clusters → kept
    val got = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        centroids, threshold = 0.95).collect()
      .map(r => r.getLong(0) ->
        (r.getInt(1), r.getBoolean(2),
          if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    assert(got(1L) == ((0, false, -1L)))
    assert(got(2L) == ((0, true, 1L)))
    assert(got(3L) == ((0, false, -1L)))
    assert(got(4L) == ((1, false, -1L)))
    assert(got(5L) == ((1, false, -1L)), "near-dup of 6 lives in the other cluster")
    assert(got(6L) == ((0, false, -1L)), "earlier near-dup 5 is cluster-bounded away")
  }

  test("gopherQuality: each rule fires on its shaped document") {
    val fill = (1 to 60).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, s"$fill the of"),                        // passes everything
      (2L, "the of tiny"),                          // fails word count only
      (3L, "• the data\n• of beta\n• and gamma"),   // all-bullet lines
      (4L, s"$fill the of\nto be continued...\nand then some more…"),
      (5L, s"$fill the of # # # # # # # # # # # #"), // symbol spam
      (6L, "1 2 3 4 5 6 7 8 9 10 11 12 the of"),    // numeric words
      (7L, s"$fill alpha beta"),                    // no 2 stop words
      (8L, ""))                                     // empty: no NPE
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .gopherQuality(docs, "doc_id", "text").collect()
      .map { r =>
        r.getLong(0) -> Map(
          "words" -> r.getAs[Boolean]("pass_word_count"),
          "meanlen" -> r.getAs[Boolean]("pass_mean_word_len"),
          "symbol" -> r.getAs[Boolean]("pass_symbol_ratio"),
          "bullet" -> r.getAs[Boolean]("pass_bullet_lines"),
          "ellipsis" -> r.getAs[Boolean]("pass_ellipsis_lines"),
          "alpha" -> r.getAs[Boolean]("pass_alpha_words"),
          "stop" -> r.getAs[Boolean]("pass_stop_words"),
          "all" -> r.getAs[Boolean]("gopher_pass"))
      }.toMap
    assert(got(1L)("all"), s"doc 1 should pass: ${got(1L)}")
    assert(!got(2L)("words") && got(2L)("stop") && !got(2L)("all"))
    assert(!got(3L)("bullet"), "3/3 bullet lines > 0.9")
    assert(!got(4L)("ellipsis") && got(4L)("words"),
      "2/3 ellipsis lines > 0.3")
    assert(!got(5L)("symbol") && got(5L)("alpha"))
    assert(!got(6L)("alpha") && !got(6L)("meanlen"))
    assert(!got(7L)("stop") && got(7L)("words") && !got(7L)("all"))
    assert(!got(8L)("words") && got(8L)("bullet") && got(8L)("ellipsis"),
      "empty doc: line rules pass at ratio 0, word count fails")
  }

  test("c4Filters: line rules drop, page rules reject, keeper survives") {
    val docs = Seq(
      (1L, "Alpha beta gamma delta one.\nKeep this full sentence two!\n" +
        "Third complete sentence right here?"),              // keeper
      (2L, "Good sentence number one right here.\n" +
        "some javascript heavy line with words.\nshort no."), // line drops
      (3L, "lorem ipsum dolor sit amet today.\nB good sentence here five."),
      (4L, "Fine sentence one two three.\ncode { inside }"),  // curly page
      (5L, "no terminal punctuation on this line at all"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .c4Filters(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6),
        r.getString(7))).toMap
    // keeper: 3 lines kept, 3 sentences, clean page
    assert(got(1L)._2 == 3 && got(1L)._3 == 3 && got(1L)._6, got(1L))
    // javascript line and the 2-word line drop; 1 kept < 3 sentences
    assert(got(2L)._2 == 1 && !got(2L)._6, got(2L))
    assert(got(3L)._4 && !got(3L)._6, "lorem ipsum rejects the page")
    assert(got(4L)._5 && !got(4L)._6, "curly brace rejects the page")
    assert(got(5L)._2 == 0 && got(5L)._7 == "",
      "unpunctuated line drops; cleaned text empty, not null")
  }

  test("dsirWeights ranks target-like raw docs above off-domain docs") {
    val target = Seq((100L, "spark sql query engine"),
      (101L, "spark query planner")).toDF("doc_id", "text")
    val raw = Seq(
      (1L, "spark sql query planner engine"), // target-like
      (2L, "cooking pasta with tomato sauce"), // off-domain
      (3L, "")) // feature-less
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .dsirWeights(raw, "doc_id", "text", target, "text", buckets = 32)
      .collect()
      .map(r => r.getString(0).toLong -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got(1L)._2 > got(2L)._2,
      s"target-domain doc must outweigh off-domain: $got")
    assert(got(3L) == ((0L, 0.0)), "no features → zero weight, not null")
    // 5 unigrams + 4 bigrams (bag semantics, not distinct)
    assert(got(1L)._1 == 9)
  }

  test("qualityClassifier separates a labeled toy corpus and generalizes") {
    val pos = (0L until 10L).map(i =>
      (i, s"spark sql query engine plan number$i", 1.0))
    val neg = (10L until 20L).map(i =>
      (i, s"pasta tomato sauce cooking recipe number$i", 0.0))
    val labeled = (pos ++ neg).toDF("doc_id", "text", "y")
    val model = graft.operators.TextAnalysis.qualityClassifierFit(
      labeled, "doc_id", "text", "y", buckets = 32, iters = 40, eta = 32.0)
    // UNSEEN docs sharing each class's vocabulary
    val unseen = Seq((100L, "spark query plan"),
      (101L, "tomato sauce recipe")).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis
      .qualityClassifierScore(unseen, "doc_id", "text", model)
      .collect().map(r => r.getString(0).toLong -> r.getDouble(1)).toMap
    assert(got(100L) > 0.6 && got(101L) < 0.4,
      s"classifier failed to separate unseen docs: $got")
    // the driver-side fit pins summation order: refit must be bit-equal
    val model2 = graft.operators.TextAnalysis.qualityClassifierFit(
      labeled.repartition(7), "doc_id", "text", "y",
      buckets = 32, iters = 40, eta = 32.0)
    assert(model.weights.sameElements(model2.weights) &&
      model.bias == model2.bias, "fit must be partitioning-invariant")
  }

  test("rows-variant dedup/decontamination keep EXACTLY the survivors " +
      "of the flag-relation forms") {
    import graft.operators.Dedup
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(200).select("doc_id", "text")
    val keptRows = Dedup.exactRows(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val keptFlag = Dedup.exact(docs, "doc_id", "text")
      .filter(col("is_kept")).select(col("id").cast("long"))
      .as[Long].collect().toSet
    assert(keptRows === keptFlag)
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val cleanRows = Dedup.decontaminateRows(train, "doc_id", "text",
        evalSet, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    val cleanFlag = Dedup.contamination(train, "doc_id", "text",
        evalSet, "doc_id", "text", n = 5)
      .filter(!col("contaminated")).select(col("id").cast("long"))
      .as[Long].collect().toSet
    assert(cleanRows === cleanFlag)
    assert(cleanRows.nonEmpty && cleanRows.size < 200)
  }

  test("qualityClassifierFit refuses a labeled frame above maxFitDocs " +
      "instead of collecting it") {
    val labeled = (0L until 30L).map(i => (i, s"doc number $i", i % 2 * 1.0))
      .toDF("doc_id", "text", "y")
    val e = intercept[IllegalArgumentException] {
      graft.operators.TextAnalysis.qualityClassifierFit(
        labeled, "doc_id", "text", "y", maxFitDocs = 10L)
    }
    assert(e.getMessage.contains("maxFitDocs"), e.getMessage)
  }

  test("c4Filters cleaned text is a line-level fixed point") {
    val rnd = new scala.util.Random(5)
    val pool = Vector("alpha", "beta", "gamma", "delta", "spark", "query",
      "table", "merge", "window", "filter")
    val enders = Vector(".", "!", "?", "", "...", ";")
    val docs = (0L until 40L).map { i =>
      val lines = (0 to rnd.nextInt(5)).map { _ =>
        (0 to 2 + rnd.nextInt(6)).map(_ => pool(rnd.nextInt(pool.size)))
          .mkString(" ") + enders(rnd.nextInt(enders.size))
      }
      (i, lines.mkString("\n"))
    }.toDF("doc_id", "text")
    val once = graft.operators.TextAnalysis
      .c4Filters(docs, "doc_id", "text").select("id", "text")
    val twice = graft.operators.TextAnalysis
      .c4Filters(once, "id", "text").collect()
    // every line that survived pass 1 satisfies all line rules, so
    // pass 2 must keep all of them
    twice.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"doc ${r.getLong(0)}: pass 2 dropped lines (${r.getInt(1)} -> " +
          s"${r.getInt(2)}) from already-cleaned text ${r.getString(7)}")
    }
  }

  test("dsirWeights is partitioning-invariant (up to fp roundoff)") {
    val rnd = new scala.util.Random(9)
    val pool = Vector("spark", "sql", "query", "pasta", "sauce", "engine",
      "tomato", "planner", "join", "cook")
    val mk = (n: Int) => (0 until n).map(i => (i.toLong,
      (0 until 12).map(_ => pool(rnd.nextInt(pool.size))).mkString(" ")))
    val rawRows = mk(60)
    val targetRows = mk(12)
    def weights(parts: Int): Map[Long, Double] =
      graft.operators.TextAnalysis.dsirWeights(
          rawRows.toDF("doc_id", "text").repartition(parts),
          "doc_id", "text",
          targetRows.toDF("doc_id", "text").repartition(parts), "text",
          buckets = 32)
        .collect().map(r => r.getString(0).toLong -> r.getDouble(2)).toMap
    val w1 = weights(1)
    val w7 = weights(7)
    assert(w1.keySet == w7.keySet)
    w1.foreach { case (id, w) =>
      assert(math.abs(w - w7(id)) < 1e-9,
        s"doc $id: weight drifts with partitioning: $w vs ${w7(id)}")
    }
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
}

package graft

import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Knn}

class DedupKnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different content about spark engines"),
    (5L, "xy")).toDF("doc_id", "text")

  test("exact dedup groups identical content, keeps smallest id") {
    val got = Dedup.exact(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(got(1L) == ((2L, 1L, true)))
    assert(got(2L) == ((2L, 1L, false)))
    assert(got(3L) == ((1L, 3L, true)))
  }

  test("shingles: distinct n-grams, short docs yield none") {
    val sh = Dedup.shingles(docs.filter($"doc_id" === 1 || $"doc_id" === 5),
      "doc_id", "text", 3).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    // tokens keep stopwords here: the quick brown fox jumps over the lazy dog
    assert(sh(1L).contains("the quick brown"))
    assert(sh(1L).contains("the lazy dog"))
    assert(sh(1L).size == 7)
    assert(!sh.contains(5L)) // "xy" has 1 token < n
  }

  test("minhash LSH finds the near-dup pair and not the unrelated one") {
    val dups = Dedup.minhashNearDups(docs, "doc_id", "text",
      n = 2, numHashes = 16, bands = 8, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((1L, 2L)))
    assert(!dups.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("edit-distance verify flags the near-dup pair with the exact " +
      "Levenshtein distance, and not the unrelated one") {
    val got = Dedup.editDistanceNearDups(docs, "doc_id", "text",
      n = 2, numHashes = 16, bands = 8, threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got.contains((1L, 2L)))
    // the candidate texts differ by a bounded edit — check the exact
    // distance against an independent local DP
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val texts = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case ((a, b), dist) =>
      assert(dist === lev(texts(a).take(256), texts(b).take(256)), (a, b))
    }
    assert(!got.keySet.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signature of identical docs is identical") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 2, 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  test("simhash: identical docs have distance 0; near-dups are close") {
    val fp = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    val d13 = java.lang.Long.bitCount(fp(1L) ^ fp(3L))
    val d14 = java.lang.Long.bitCount(fp(1L) ^ fp(4L))
    assert(d13 < d14, s"near-dup distance $d13 should beat unrelated $d14")
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("ngram jaccard on an explicit pair") {
    val pairs = Seq((1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", pairs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    // 8 bigrams each; differ in last token -> intersection 7, union 9
    assert(math.abs(j((1L, 3L)) - 7.0 / 9) < 1e-12)
    assert(j((1L, 4L)) == 0.0)
  }

  test("ngram jaccard: a pair given twice keeps its exact counts") {
    val pairs = Seq((1L, 3L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.ngramJaccard(docs, "doc_id", "text", pairs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    // one output row per input row, each with |A∩B| = 7 of |A∪B| = 9
    assert(got.count(r => (r._1, r._2) == ((1L, 3L))) == 2, got.toSeq)
    got.filter(r => (r._1, r._2) == ((1L, 3L))).foreach(r =>
      assert(r._3 == 7L && r._4 == 7.0 / 9, r))
  }

  test("brute-force knn matches scala cosine; lsh returns a subset") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(-1.0f, 0.0f, 0.0f))).toDF("id", "vec")
    val q = Array(1.0, 0.0, 0.0)
    val top = Knn.bruteForceTopK(vecs, "id", "vec", q, 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.map(_._1).toSeq == Seq(1L, 2L))
    assert(math.abs(top.head._2 - 1.0) < 1e-12)
    val expected2 = 0.9 / math.sqrt(0.9 * 0.9 + 0.1 * 0.1)
    assert(math.abs(top(1)._2 - expected2) < 1e-6) // float storage

    val lsh = Knn.lshTopK(vecs, "id", "vec", q, 4, nPlanes = 2).collect()
      .map(_.getLong(0)).toSet
    val brute = Knn.bruteForceTopK(vecs, "id", "vec", q, 4).collect()
      .map(_.getLong(0)).toSet
    assert(lsh.subsetOf(brute))
    assert(lsh.contains(1L)) // the query itself is in its own bucket
  }

  test("duplicated substrings: maximal spans, hashKey path equivalent") {
    // doc 10 and 11 share a 10-token run (tokens 2..11 of each); doc 12
    // repeats its own 8-token run; doc 13 is clean filler
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val d = Seq(
      (10L, s"aa bb $run yy zz"),
      (11L, s"cc dd $run ww vv"),
      (12L, s"one two three four five six seven eight pad one two three four five six seven eight"),
      (13L, "nothing here repeats at all believe me truly unique words only"))
      .toDF("doc_id", "text")
    def spans(hk: Boolean) =
      Dedup.duplicatedSubstrings(d, "doc_id", "text", k = 8, hashKey = hk)
        .select("id", "span_start", "span_end", "n_windows")
        .as[(Long, Int, Int, Long)].collect().toSet
    val s = spans(hk = false)
    // the shared 10-token run = 3 overlapping 8-windows starting at
    // token 2 -> one maximal span [2, 11] in both docs
    assert(s.contains((10L, 2, 11, 3L)))
    assert(s.contains((11L, 2, 11, 3L)))
    // the self-repeat: duplicated windows at 0 and 9 cover [0,7] and
    // [9,16]; the one-token gap (9 > 7+1) keeps them separate spans
    assert(s.contains((12L, 0, 7, 1L)))
    assert(s.contains((12L, 9, 16, 1L)))
    assert(!s.exists(_._1 == 13L))
    assert(spans(hk = true) === s)
  }

  test("duplicated substrings: property parity with brute force on " +
      "seeded-random corpora") {
    // independent local reference: brute-force window multiset ->
    // duplicated starts -> interval merge
    def localSpans(texts: Seq[(Long, String)], k: Int)
        : Set[(Long, Int, Int, Long)] = {
      val toks = texts.map { case (id, t) =>
        id -> graft.functions.TextFunctions.tokenize(t, removeStopwords = false)
      }
      val occ = scala.collection.mutable.Map.empty[String, Int]
        .withDefaultValue(0)
      for ((_, ts) <- toks; i <- 0 to ts.length - k)
        occ(ts.slice(i, i + k).mkString(" ")) += 1
      val out = scala.collection.mutable.Set.empty[(Long, Int, Int, Long)]
      for ((id, ts) <- toks) {
        val starts = (0 to ts.length - k)
          .filter(i => occ(ts.slice(i, i + k).mkString(" ")) > 1)
        var i = 0
        while (i < starts.length) {
          var j = i
          var end = starts(i) + k - 1
          while (j + 1 < starts.length && starts(j + 1) <= end + 1) {
            j += 1; end = math.max(end, starts(j) + k - 1)
          }
          out += ((id, starts(i), end, (j - i + 1).toLong))
          i = j + 1
        }
      }
      out.toSet
    }
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    for (seed <- Seq(7L, 21L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val texts = (0L until 24L).map { id =>
        id -> Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      }
      val got = Dedup.duplicatedSubstrings(
          texts.toDF("doc_id", "text"), "doc_id", "text", k = 4,
          hashKey = seed % 2 == 1)
        .select("id", "span_start", "span_end", "n_windows")
        .as[(Long, Int, Int, Long)].collect().toSet
      assert(got === localSpans(texts, 4), s"seed $seed")
    }
  }

  test("column tokenizer agrees with the pure-Scala tokenizer") {
    val texts = Seq("Hello big-world X a_b 1 THE data",
      "Spark 4.1 runs FAST; really-fast code_paths!", "", "a -- b")
    val df = texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("i", "t")
    val colToks = df.select($"i",
        TextFunctions.tokensCol($"t").as("toks"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toList).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(colToks(i) == TextFunctions.tokenize(t).toList, s"text: $t")
    }
  }

  test("mutualTopK: only reciprocal pairs survive — a hub that ranks " +
      "in everyone's list but ranks its own neighbors out is filtered") {
    // one cell (single centroid). Geometry: a/b nearly parallel
    // (mutual top-1); c/d nearly parallel (mutual); hub h is close-ish
    // to ALL of a,b,c,d — with k=1 each vector's top-1 is its twin,
    // never h, while h's top-1 is just one vector: no mutual pair
    // involving h.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),        // a
      (2L, Array(0.99f, 0.1f, 0.0f)),       // b ~ a
      (3L, Array(0.0f, 1.0f, 0.0f)),        // c
      (4L, Array(0.1f, 0.99f, 0.0f)),       // d ~ c
      (5L, Array(0.6f, 0.6f, 0.0f)))        // hub
      .toDF("vec_id", "embedding")
    // all five vectors have positive coords -> everyone lands in the
    // first cell (the second centroid exists only because the argmax
    // needs >= 2 candidates)
    val one = Seq(Array(1.0, 1.0, 1.0), Array(-1.0, -1.0, -1.0))
    val got = Knn.mutualTopK(vecs, "vec_id", "embedding", one, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 4L)), got.toString)
  }

  test("mutualTopK: pairs in different cells never meet; ranks are " +
      "the within-cell positions") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(-1.0f, 0.0f)), (4L, Array(-0.9f, -0.1f)))
      .toDF("vec_id", "embedding")
    val cents = Seq(Array(1.0, 0.0), Array(-1.0, 0.0))
    val got = Knn.mutualTopK(vecs, "vec_id", "embedding", cents, k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(3), r.getInt(4)))
      .toMap
    assert(got.keySet == Set((1L, 2L), (3L, 4L)), got.toString)
    assert(got((1L, 2L)) == ((1, 1)) && got((3L, 4L)) == ((1, 1)))
  }

  test("indexStats reports the exact corpus/vocab arithmetic") {
    import graft.operators.Maintenance
    val docs = Seq(
      (1L, "alpha beta alpha"),
      (2L, "beta gamma"),
      (3L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val got = Maintenance.indexStats(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("n_docs") == 3.0 && got("total_tokens") == 9.0)
    assert(got("avgdl") == 3.0)
    assert(got("vocab_size") == 4.0)
    // postings: alpha{1,3} beta{1,2,3} gamma{2,3} delta{3} = 8
    assert(got("n_postings") == 8.0 && got("max_df") == 3.0)
    // df sorted = [1,2,2,3]: p50 -> r=floor(.5*3)=1 -> 2; p90 -> r=2 -> 2
    assert(got("df_p50") == 2.0 && got("df_p90") == 2.0)
  }
}

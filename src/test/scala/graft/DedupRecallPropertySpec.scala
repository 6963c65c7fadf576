package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Property-style recall guarantees of the near-dup family, checked on
  * seeded-random corpora against brute-force ground truth:
  *
  *  - the SimHash block pigeonhole is EXACT: simhashNearDups returns
  *    precisely the pairs whose fingerprint Hamming distance is
  *    ≤ maxDist — no candidate filtering loss, for both block dials
  *  - MinHash banding recall is lower-bounded by the analytic
  *    1 − (1 − j^r)^b detection curve of the banding scheme (evaluated
  *    at each pair's TRUE shingle Jaccard), for the sha hash family
  *
  * Deterministic seeds; each case is a fresh random corpus, so these
  * are property tests in the ScalaCheck sense with a pinned generator.
  */
class DedupRecallPropertySpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Vector("spark", "hash", "join", "stream", "table",
    "shuffle", "executor", "partition", "broadcast", "codegen", "filter",
    "column", "vector", "index", "query", "merge", "scan", "sort")

  /** Random corpus with planted near-dup structure: base docs plus
    * mutated copies (k word substitutions of a 40-word doc). */
  private def corpus(seed: Long, nDocs: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (0 until nDocs).map { i =>
      if (i % 2 == 1) {
        // mutate the previous doc in 0-6 random positions
        val prev = corpusDoc(seed, i - 1)
        val words = prev.split(" ").toBuffer
        val edits = rnd.nextInt(7)
        (0 until edits).foreach { _ =>
          words(rnd.nextInt(words.size)) = vocab(rnd.nextInt(vocab.size))
        }
        (i.toLong, words.mkString(" "))
      } else (i.toLong, corpusDoc(seed, i))
    }
  }

  private def corpusDoc(seed: Long, i: Int): String = {
    val rnd = new scala.util.Random(seed * 1000003L + i)
    (0 until 40).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
  }

  test("simhash pigeonhole recall is EXACT on random corpora " +
      "(every Hamming<=maxDist pair found, none extra)") {
    for (seed <- Seq(1L, 2L, 3L); numBlocks <- Seq(4, 8)) {
      val docs = corpus(seed, 80).toDF("doc_id", "text")
      val maxDist = 3
      val fps = Dedup.simhash(docs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = (for {
        a <- fps.keys; b <- fps.keys if a < b
        if java.lang.Long.bitCount(fps(a) ^ fps(b)) <= maxDist
      } yield (a, b)).toSet
      val got = Dedup.simhashNearDups(docs, "doc_id", "text",
          maxDist = maxDist, numBlocks = numBlocks)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected,
        s"seed=$seed numBlocks=$numBlocks: pigeonhole must be exact " +
          s"(missing=${expected -- got}, extra=${got -- expected})")
      assert(expected.nonEmpty || seed != 1L,
        "generator should plant at least one near-dup pair")
    }
  }

  test("minhash banding recall >= analytic 1-(1-j^r)^b bound " +
      "(sha family, evaluated at each pair's true shingle Jaccard)") {
    val numHashes = 16
    val bands = 8
    val rows = numHashes / bands // r = 2
    for (seed <- Seq(11L, 12L)) {
      val docs = corpus(seed, 100).toDF("doc_id", "text")
      val sh = Dedup.shingles(docs, "doc_id", "text", n = 3).cache()
      val shingleSets = sh.collect()
        .groupBy(_.getLong(0)).map { case (id, rs) =>
          id -> rs.map(_.getString(1)).toSet
        }
      val sigs = Dedup.minhashSignaturesFrom(sh, numHashes,
        Dedup.HashFamily.Sha256Slice)
      val cands = Dedup.minhashCandidates(sigs, numHashes, bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // planted pairs (2i, 2i+1) with their true shingle Jaccard
      val planted = (0 until 100 by 2).map { i =>
        val (a, b) = (shingleSets(i.toLong), shingleSets(i + 1L))
        val j = a.intersect(b).size.toDouble / a.union(b).size
        ((i.toLong, i + 1L), j)
      }.filter(_._2 >= 0.5)
      assert(planted.size >= 10, s"seed=$seed: want >=10 high-overlap pairs")
      val analytic = planted.map { case (_, j) =>
        1.0 - math.pow(1.0 - math.pow(j, rows), bands)
      }.sum / planted.size
      val recall = planted.count { case (p, _) => cands(p) }
        .toDouble / planted.size
      // slack: the sha family is one fixed draw from the hash-family
      // distribution, not an expectation over draws
      assert(recall >= analytic - 0.15,
        s"seed=$seed: banding recall $recall below analytic bound " +
          s"$analytic - slack (pairs=${planted.size})")
      sh.unpersist()
    }
  }

  test("semanticDedup is EXACT vs brute force on random vectors: " +
    "within-cluster pairs all found, cross-cluster pairs all excluded") {
    val dim = 8
    for (seed <- Seq(11L, 23L)) {
      val rnd = new scala.util.Random(seed)
      // planted structure: half the vectors are jittered copies of an
      // earlier vector so the threshold actually fires
      val base = Array.fill(60)(Array.fill(dim)(rnd.nextGaussian().toFloat))
      val vecs = base.zipWithIndex.map { case (v, i) =>
        if (i % 2 == 1) {
          val src = base(i - 1)
          (i.toLong, src.map(x => x + (rnd.nextGaussian() * 0.05).toFloat).toSeq)
        } else (i.toLong, v.toSeq)
      }.toSeq
      val crnd = new scala.util.Random(seed + 7)
      val centroids = (0 until 4).map(_ =>
        Array.fill(dim)(crnd.nextGaussian()))
      val threshold = 0.9
      def dot(a: Seq[Float], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => x * y }.sum
      def cos(a: Seq[Float], b: Seq[Float]): Double = {
        val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
        d / (na * nb)
      }
      val assign = vecs.map { case (id, v) =>
        id -> centroids.zipWithIndex.maxBy { case (c, i) => (dot(v, c), -i) }._2
      }.toMap
      val expected = vecs.map { case (id, v) =>
        val earlier = vecs.filter { case (j, w) =>
          j < id && assign(j) == assign(id) && cos(w, v) >= threshold
        }
        id -> earlier.map(_._1).sorted.headOption
      }.toMap
      val got = Dedup.semanticDedup(vecs.toDF("vec_id", "embedding"),
          "vec_id", "embedding", centroids, threshold).collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
      assert(got == expected,
        s"seed=$seed: verdicts diverge from brute force: " +
          s"${got.toSeq.diff(expected.toSeq).take(5)}")
      assert(expected.values.count(_.isDefined) >= 5,
        s"seed=$seed: want planted dups to actually fire")
    }
  }
}

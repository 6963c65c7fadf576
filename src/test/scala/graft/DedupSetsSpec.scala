package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The MinHash near-dup and decontamination passes run over per-doc
  * shingle SETS. This suite checks them with `==` against a reference
  * built from the exploded (id, shingle) row formulas: signatures as a
  * per-seed min() aggregate over the rows, and the verify as an
  * intersection equi-join on the shingle with size aggregates. */
class DedupSetsSpec extends SparkSpec {
  import spark.implicits._

  // repeated ids (7, 30), docs shorter than n tokens (5, 6), null text
  // (8), identical docs (1/2, 20/21), shingles repeated within a doc
  // (3, 4), and seeded near-dup copies so every band finds candidates
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(17)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo",
      "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima")
    def sentence(len: Int) =
      Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (40L until 70L).map(i => (i, sentence(10 + rnd.nextInt(15))))
    val near = base.take(15).map { case (i, t) =>
      (i + 100L, t + " " + sentence(1 + rnd.nextInt(3)))
    }
    val fixed = Seq[(Long, String)](
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "one two three one two three one two three one two"),
      (4L, "la la la la la la la la"),
      (5L, "xy"),
      (6L, "just two"),
      (7L, "the quick brown fox jumps over the lazy cat"),
      (7L, "a second text under the same id about lazy dogs"),
      (8L, null),
      (20L, "spark shuffles rows between stages by key"),
      (21L, "spark shuffles rows between stages by key"),
      (30L, "the quick brown fox"),
      (30L, "the quick brown fox"))
    (fixed ++ base ++ near).toDF("doc_id", "text").repartition(3)
  }

  // ---- the exploded-row reference ----

  private def refSignatures(sh: DataFrame, numHashes: Int,
      hashFamily: Dedup.HashFamily): DataFrame = {
    val hashed = sh.select(col("id"),
      array((0 until numHashes).map(s =>
        hashFamily(s, col("shingle"))): _*).as("hs"))
    val mins = (0 until numHashes).map(i =>
      min(element_at(col("hs"), i + 1)).as(s"m$i"))
    hashed.groupBy("id").agg(mins.head, mins.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"m$i")): _*).as("signature"))
  }

  private def refVerify(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val candIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val shc = sh.join(candIds, Seq("id"), "left_semi")
    val sizes = shc.groupBy("id").agg(count("*").as("n_shingles"))
    val a = shc.select(col("id").as("id_a"), col("shingle"))
    val b = shc.select(col("id").as("id_b"), col("shingle"))
    val inters = pairs.join(a, "id_a").join(b, Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count("*").as("n_inter"))
    pairs
      .join(inters, Seq("id_a", "id_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.withColumnRenamed("id", "id_a")
              .withColumnRenamed("n_shingles", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
              .withColumnRenamed("n_shingles", "n_b"), "id_b")
      .withColumn("jaccard",
        when(col("n_a") + col("n_b") - col("n_inter") === 0, lit(0.0))
          .otherwise(col("n_inter").cast("double") /
            (col("n_a") + col("n_b") - col("n_inter"))))
      .select("id_a", "id_b", "n_inter", "n_a", "n_b", "jaccard")
  }

  private def refNearDups(sh: DataFrame, sigs: DataFrame, numHashes: Int,
      bands: Int, threshold: Double): DataFrame =
    refVerify(sh, Dedup.minhashCandidates(sigs, numHashes, bands))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def sh3(df: DataFrame) = Dedup.shingles(df, "doc_id", "text", 3)

  test("reference corpus yields candidates and verified pairs") {
    val ref = refNearDups(sh3(corpus),
      refSignatures(sh3(corpus), 16, Dedup.HashFamily.XxHash64), 16, 8, 0.5)
    assert(ref.count() >= 15, rows(ref))
  }

  test("minhashNearDups equals the exploded-row reference under both " +
      "hash families") {
    for ((name, hf) <- Seq("xxhash" -> (Dedup.HashFamily.XxHash64),
        "sha" -> (Dedup.HashFamily.Sha256Slice));
        (bands, threshold) <- Seq((8, 0.2), (4, 0.5))) {
      val got = Dedup.minhashNearDups(corpus, "doc_id", "text", n = 3,
        numHashes = 16, bands = bands, threshold = threshold,
        hashFamily = hf)
      val sh = sh3(corpus)
      val want = refNearDups(sh, refSignatures(sh, 16, hf), 16, bands,
        threshold)
      assert(rows(got) == rows(want), s"$name bands=$bands")
    }
  }

  test("set-form signatures equal the per-seed min() aggregate") {
    for (hf <- Seq(Dedup.HashFamily.XxHash64, Dedup.HashFamily.Sha256Slice)) {
      val got = Dedup.minhashSignaturesFromSets(
        Dedup.shingleSets(corpus, "doc_id", "text", 3).localCheckpoint(),
        16, hf)
      assert(rows(got) == rows(refSignatures(sh3(corpus), 16, hf)))
    }
  }

  test("shingleSets holds exactly the distinct shingles per id") {
    val got = Dedup.shingleSets(corpus, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    got.values.foreach(s => assert(s.distinct.size == s.size, s))
    val want = sh3(corpus).collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(got.view.mapValues(_.toSet).toMap == want)
    assert(!got.contains(5L) && !got.contains(6L) && !got.contains(8L))
  }

  test("minhashNearDupsFrom, minhashNearDupsFromSigs and ngramJaccard " +
      "equal the exploded-row reference") {
    val sh = sh3(corpus).localCheckpoint()
    val sigs = refSignatures(sh, 16, Dedup.HashFamily.Sha256Slice).localCheckpoint()
    val want = rows(refNearDups(sh, sigs, 16, 8, 0.3))
    assert(rows(Dedup.minhashNearDupsFrom(sh, 16, 8, 0.3,
      Dedup.HashFamily.Sha256Slice)) == want)
    assert(rows(Dedup.minhashNearDupsFromSigs(sh, sigs, 16, 8, 0.3)) == want)
    // every id pairs with its successors up to +3 and a near copy, plus
    // pairs naming a doc without shingles (dropped on both sides)
    val ids = corpus.select("doc_id").distinct()
    val pairs = ids.select(col("doc_id").as("id_a"),
        explode(array(lit(1L), lit(2L), lit(3L), lit(100L))).as("d"))
      .select(col("id_a"), (col("id_a") + col("d")).as("id_b"))
      .join(ids.select(col("doc_id").as("id_b")), "id_b")
      .select("id_a", "id_b")
    assert(pairs.count() > 20)
    assert(rows(Dedup.ngramJaccard(corpus, "doc_id", "text", pairs, 3)) ==
      rows(refVerify(sh, pairs)))
  }

  test("minhashIncremental equals the exploded-row reference") {
    val history = corpus.filter(col("doc_id") < 100L)
    val incoming = corpus.filter(col("doc_id") >= 100L)
    val got = Dedup.minhashIncremental(incoming, history, "doc_id", "text",
      n = 3, numHashes = 16, bands = 8, threshold = 0.3,
      hashFamily = Dedup.HashFamily.Sha256Slice)
    val (shIn, shOld) = (sh3(incoming), sh3(history))
    def keyed(sh: DataFrame, id: String) = Dedup.minhashBandKeys(
        refSignatures(sh, 16, Dedup.HashFamily.Sha256Slice), 16, 8)
      .select(col("band"), col("band_hash"), col("id").as(id))
    val cands = keyed(shIn, "id_a").join(keyed(shOld, "id_b"),
      Seq("band", "band_hash")).select("id_a", "id_b").distinct()
    val want = refVerify(shIn.unionByName(shOld), cands)
      .filter(col("jaccard") >= 0.3).select("id_a", "id_b", "jaccard")
    assert(rows(want).nonEmpty)
    assert(rows(got) == rows(want))
  }

  test("decontaminateRows keeps the reference's surviving rows at n 3 " +
      "and 8") {
    val evalDf = Seq[(String, String)](
      ("e1", "the quick brown fox jumps over the lazy dog"),
      ("e2", "alpha bravo charlie delta echo foxtrot golf hotel india"),
      ("e3", null),
      ("e4", "xy"))
      .toDF("eval_id", "text")
    for (n <- Seq(3, 8)) {
      val evalSh = Dedup.shingles(evalDf, "eval_id", "text", n)
        .select("shingle").distinct()
      val contaminated = Dedup.shingles(corpus, "doc_id", "text", n)
        .join(broadcast(evalSh), "shingle")
        .select(col("id").as("doc_id")).distinct()
      val want = corpus.join(contaminated, Seq("doc_id"), "left_anti")
      val got = Dedup.decontaminateRows(corpus, "doc_id", "text",
        evalDf, "eval_id", "text", n)
      assert(rows(got) == rows(want), s"n=$n")
      assert(rows(got).size < corpus.count(), s"n=$n removed nothing")
    }
  }

  test("the near-dup passes leave nothing in the session's cache") {
    spark.catalog.clearCache()
    val cm = spark.sharedState.cacheManager
    assert(cm.isEmpty)
    Dedup.minhashNearDups(corpus, "doc_id", "text").collect()
    assert(cm.isEmpty, "minhashNearDups")
    val pairs = Seq((1L, 7L), (20L, 21L)).toDF("id_a", "id_b")
    Dedup.ngramJaccard(corpus, "doc_id", "text", pairs, 3).collect()
    assert(cm.isEmpty, "ngramJaccard")
    Dedup.minhashIncremental(corpus.filter(col("doc_id") >= 100L),
      corpus.filter(col("doc_id") < 100L), "doc_id", "text").collect()
    assert(cm.isEmpty, "minhashIncremental")
    Dedup.containment(corpus, "doc_id", "text").collect()
    assert(cm.isEmpty, "containment")
    Dedup.decontaminateFuzzy(corpus.filter(col("doc_id") >= 100L),
      "doc_id", "text", corpus.filter(col("doc_id") < 100L), "doc_id",
      "text").collect()
    assert(cm.isEmpty, "decontaminateFuzzy")
    Dedup.editDistanceNearDups(corpus, "doc_id", "text").collect()
    assert(cm.isEmpty, "editDistanceNearDups")
    Dedup.simhashNearDups(corpus, "doc_id", "text").collect()
    assert(cm.isEmpty, "simhashNearDups")
    Dedup.resolveClusters(corpus, "doc_id", pairs).collect()
    assert(cm.isEmpty, "resolveClusters")
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Scale hardening of the near-dup family: the SimHash block pigeonhole
  * must keep EXACT recall while the block dial shrinks candidate
  * buckets, and embedding LSH must scale its plane count with the
  * corpus instead of going quadratic in-bucket. */
class DedupScaleSpec extends SparkSpec {
  import spark.implicits._

  // near-dup-rich corpus: heavy shared vocabulary (block collisions are
  // common) plus exact and 1-token-off duplicates (real near-dups)
  private lazy val docs = {
    val base = "the quick brown fox jumps over the lazy dog while " +
      "spark executors shuffle partitions across the cluster network"
    val rows = (0 until 60).map { i =>
      val text = i % 3 match {
        case 0 => base + s" unique token alpha$i"
        case 1 => base + s" unique token alpha${i - 1}" // dup of i-1
        case _ => base.replace("quick", s"slow$i") + s" beta$i gamma$i"
      }
      (i.toLong, text)
    }
    rows.toDF("doc_id", "text")
  }

  private def pairSet(numBlocks: Int): Set[(Long, Long)] =
    Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3,
        numBlocks = numBlocks)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("simhash pigeonhole keeps exact recall as numBlocks grows") {
    val p4 = pairSet(4)
    val p8 = pairSet(8)
    assert(p4.nonEmpty, "corpus must contain near-dups")
    assert(p8 == p4, "8-block candidates must find the same <=3 pairs")
    intercept[IllegalArgumentException](pairSet(16)) // combos explode
  }

  test("wider block keys shrink the candidate buckets") {
    def candidateCount(numBlocks: Int): Long = {
      val maxDist = 3
      val blockBits = 64 / numBlocks
      val mask = (1L << blockBits) - 1
      def blockVal(i: Int) =
        shiftrightunsigned(col("simhash"), i * blockBits).bitwiseAND(mask)
      val combos = (0 until numBlocks).combinations(numBlocks - maxDist).toSeq
      val fp = Dedup.simhash(docs, "doc_id", "text")
      val keyed = fp.select(col("id"),
        posexplode(array(combos.map(c =>
          concat_ws(",", c.map(i => blockVal(i).cast("string")): _*)): _*)))
        .withColumnRenamed("pos", "block").withColumnRenamed("col", "bv")
      keyed.as("a").join(keyed.as("b"), Seq("block", "bv"))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id")).distinct().count()
    }
    // distinct candidate PAIRS shrink: requiring 5-of-8 block agreement
    // prunes the dissimilar pairs that collide on one lucky block
    // (join-row multiplicity for true dups rises, but that set is
    // bounded by the dup rate, not the corpus)
    val c4 = candidateCount(4)
    val c8 = candidateCount(8)
    assert(c8 <= c4,
      s"8-block keys must not widen the candidate pair set ($c8 vs $c4)")
  }

  test("embeddingPlanesFor scales with corpus size and clamps") {
    assert(Dedup.embeddingPlanesFor(1000, 1024) == 1)
    assert(Dedup.embeddingPlanesFor(1L << 20, 1024) == 10)
    assert(Dedup.embeddingPlanesFor(1L << 40, 1024) == 24) // clamped
    assert(Dedup.embeddingPlanesFor(0, 1024) == 1)
    // 10^9 vectors with 1024-vector target buckets -> ~2^20 buckets
    assert(Dedup.embeddingPlanesFor(1000000000L, 1024) == 20)
  }

  test("banded embedding LSH recovers pairs single-band misses") {
    val rnd = new scala.util.Random(7)
    val dim = 16
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(dim)(r.nextGaussian().toFloat)
    }
    // pairs of near-identical vectors (tiny perturbation => cosine ~1)
    val rows = (0 until 40).flatMap { i =>
      val v = vec(i)
      val w = v.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)
      Seq((i * 2L, v.toSeq), (i * 2L + 1, w.toSeq))
    }
    val vectors = rows.toDF("vec_id", "embedding")
    def pairs(bands: Int): Set[(Long, Long)] =
      Dedup.embeddingNearDups(vectors, "vec_id", "embedding", dim,
          threshold = 0.9, nPlanes = 8, bands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneBand = pairs(1)
    val threeBands = pairs(3)
    assert(oneBand.subsetOf(threeBands),
      "extra bands may only ADD candidate pairs")
    assert(threeBands.size >= oneBand.size)
    // every output pair is distinct (bands de-duplicated)
    val all = Dedup.embeddingNearDups(vectors, "vec_id", "embedding", dim,
      threshold = 0.9, nPlanes = 8, bands = 3).collect()
    assert(all.length == all.map(r => (r.getLong(0), r.getLong(1))).distinct.length)
  }

  test("resolveClusters does not pin pairs to one partition") {
    // high-dup corpus: every doc pairs with its neighbor -> the pair
    // relation is corpus-sized, the worst case for a single-partition
    // pin. connectedComponents pins the pairs at their own partitioning.
    val pairs = (0L until 2000L by 2).map(i => (i, i + 1))
      .toDF("id_a", "id_b").repartition(16)
    val all = (0L until 2000L).toDF("doc_id")
    val got = Dedup.resolveClusters(all, "doc_id", pairs)
      .filter(col("is_kept")).count()
    assert(got == 1000, "one kept survivor per 2-doc cluster")
  }

  test("auto plane count (nPlanes <= 0) produces a valid plan") {
    val vectors = (0 until 50).map(i =>
      (i.toLong, Array.fill(8)(scala.util.Random.nextFloat()).toSeq))
      .toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDups(vectors, "vec_id", "embedding", 8,
      threshold = 0.99, nPlanes = 0)
    got.count() // must execute; 50 vectors -> 1 plane (clamped)
  }

  test("fuzzy decontamination: no cartesian/nested-loop anywhere, and " +
      "the verify joins are candidate-bounded equi-joins") {
    // capture every executed plan — the contaminated-id relation is
    // pinned eagerly inside the operator (PlanAuditSpec discipline)
    val evalSet = docs.filter(col("doc_id") % 10 === 0)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    val all = QueryRun(spark, plans = true) {
      Dedup.decontaminateFuzzy(train, "doc_id", "text",
        evalSet, "doc_id", "text").count()
    }.plans.map(_.executedPlan.toString)
    assert(all.nonEmpty)
    all.foreach { p =>
      assert(!p.contains("CartesianProduct"), p)
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
    }
  }

  test("stripBoilerplate's boilerplate relation rides a broadcast join") {
    val staged = docs.select(col("doc_id"),
      concat(lit("shared banner line\n"), col("text")).as("text"))
    val p = Dedup.stripBoilerplate(staged, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}

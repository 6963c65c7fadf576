package graft

import org.apache.spark.sql.functions._

import graft.operators.Pq

class PqSpec extends SparkSpec {
  import spark.implicits._

  // deterministic synthetic vectors: 40 rows, dim 16
  private val dim = 16
  private def vec(i: Int): Seq[Float] =
    (0 until dim).map(d => math.sin(i * 31 + d * 7).toFloat)
  private lazy val vectors = (0 until 40).map(i => (i.toLong, vec(i)))
    .toDF("vec_id", "embedding")

  test("fit produces an m x k codebook of d/m-dim centroids") {
    val cb = Pq.fit(vectors, "vec_id", "embedding", dim, m = 4, k = 4,
      iters = 2)
    assert(cb.centroids.size == 4)
    assert(cb.centroids.forall(_.size == 4))
    assert(cb.centroids.forall(_.forall(_.length == cb.dsub)))
  }

  test("encode emits m codes in [0, k) and is deterministic") {
    val cb = Pq.fit(vectors, "vec_id", "embedding", dim, m = 4, k = 4)
    def run() = Pq.encode(vectors, "embedding", cb)
      .select("vec_id", "codes").orderBy("vec_id")
      .as[(Long, Seq[Int])].collect().toSeq
    val a = run()
    assert(a.forall(_._2.size == 4))
    assert(a.forall(_._2.forall(c => c >= 0 && c < 4)))
    assert(a == run())
  }

  test("ADC of a vector's own query ranks it at (or near) the top") {
    val cb = Pq.fit(vectors, "vec_id", "embedding", dim, m = 4, k = 8,
      iters = 3)
    val q = vec(17).map(_.toDouble).toArray
    val top = Pq.adcTopK(vectors, "vec_id", "embedding", q, 5, cb)
      .select("vec_id").as[Long].collect()
    assert(top.contains(17L), s"self not in ADC top-5: ${top.toSeq}")
  }

  test("refine re-ranks the ADC shortlist by exact cosine") {
    val cb = Pq.fit(vectors, "vec_id", "embedding", dim, m = 4, k = 8,
      iters = 3)
    val q = vec(23).map(_.toDouble).toArray
    val refined = Pq.refinedTopK(vectors, "vec_id", "embedding", q, 3, cb,
      shortlist = 10).collect()
    assert(refined.head.getLong(0) == 23L) // exact re-rank finds self
    assert(refined.map(_.getDouble(1)).toSeq.sliding(2).forall {
      case scala.collection.Seq(a, b) => a >= b
      case _ => true
    })
  }

  test("IVF-PQ: coarse probe + ADC + refine finds the query's own vector") {
    import graft.operators.Knn
    val cb = Pq.fit(vectors, "vec_id", "embedding", dim, m = 4, k = 8,
      iters = 3)
    val centroids = Knn.ivfFit(vectors, "vec_id", "embedding", dim,
      k = 4, iters = 2)
    val q = vec(11).map(_.toDouble).toArray
    val got = Pq.ivfPqTopK(vectors, "vec_id", "embedding", q, 3,
      centroids, nprobe = 2, cb, shortlist = 8).collect()
    assert(got.head.getLong(0) == 11L)
    // candidates only come from the probed cells
    val probed = Knn.nearestCentroids(q, centroids, 2).toSet
    val cells = Knn.ivfAssign(vectors, "embedding", centroids)
      .select("vec_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach(r => assert(probed.contains(cells(r.getLong(0)))))
  }

  test("ADC approximates true L2: top-10 overlaps exact top-10") {
    val cb = Pq.fit(vectors, "vec_id", "embedding", dim, m = 4, k = 8,
      iters = 3)
    val q = vec(5).map(_.toDouble).toArray
    val approx = Pq.adcTopK(vectors, "vec_id", "embedding", q, 10, cb)
      .select("vec_id").as[Long].collect().toSet
    val qB = lit(q).cast("array<double>")
    val exact = vectors.withColumn("d2",
        aggregate(zip_with(col("embedding").cast("array<double>"), qB,
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x))
      .orderBy(col("d2").asc, col("vec_id"))
      .limit(10).select("vec_id").as[Long].collect().toSet
    val overlap = (approx & exact).size
    assert(overlap >= 5, s"ADC recall too low: $overlap/10")
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

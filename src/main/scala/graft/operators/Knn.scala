package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{CentroidMatrix, NearestCentroid, TextFunctions,
  VectorFunctions => V}

/** Dense k-NN: exact brute-force cosine top-k (the correctness
  * baseline — operator W1) and a random-hyperplane LSH bucketed variant
  * (the 100 TB scale path).
  *
  * Ref: packages/vecpipe/search/dense_search.py:75-137 (COSINE top-k
  * delegated to Qdrant HNSW); we compute the exact equivalent as a
  * DataFrame plan. Exact top-k compiles to TakeOrderedAndProject — a
  * per-partition heap + driver merge, NOT a global sort, so it scales
  * linearly with executors (SURVEY.md §7.4 risk 7).
  */
object Knn {

  /** Exact cosine top-k of `vectors(idCol, vecCol)` against one query
    * vector (scores computed in codegen'd higher-order functions). */
  def bruteForceTopK(vectors: DataFrame, idCol: String, vecCol: String,
                     query: Array[Double], k: Int,
                     preNormalized: Boolean = false): DataFrame = {
    val q = array(query.toIndexedSeq.map(lit): _*)
    val score = if (preNormalized) V.dot(col(vecCol), q)
                else V.cosine(col(vecCol), q)
    vectors.select(col(idCol), score.as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random unit hyperplanes for LSH, derived from
    * the mock-embedding scheme (seeded by plane index) so runs are
    * reproducible without Math.random. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: String = "graft-lsh"): Seq[Array[Double]] =
    (0 until nPlanes).map(i => TextFunctions.mockEmbeddingDouble(s"$seed:$i", dim))

  /** Bit-signature bucket id for a vector column under the given
    * hyperplanes: bit i = sign(v · hᵢ). Pure column arithmetic. */
  def lshBucket(vecCol: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (h, i) =>
      when(V.dot(vecCol, array(h.toIndexedSeq.map(lit): _*)) >= 0.0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** Approximate k-NN: restrict the exact scan to the query's LSH
    * bucket. With B buckets this prunes ~ (1 − 1/B) of the corpus per
    * probe; recall is traded via `nPlanes`. The bucket column should be
    * precomputed and the table partitioned by it at scale, turning each
    * query into a single-partition scan. */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], k: Int, nPlanes: Int = 8): DataFrame = {
    val dim = query.length
    val planes = hyperplanes(nPlanes, dim)
    var bucket = 0L
    planes.zipWithIndex.foreach { case (h, i) =>
      if (V.dotS(query, h) >= 0.0) bucket |= (1L << i)
    }
    vectors
      .withColumn("_bucket", lshBucket(col(vecCol), planes))
      .filter(col("_bucket") === lit(bucket))
      .drop("_bucket")
      .transform(bruteForceTopK(_, idCol, vecCol, query, k))
  }

  /** MULTI-PROBE LSH (Lv et al., VLDB 2007): probe the query's own
    * bucket plus every bucket reached by flipping subsets of the
    * `probeBits` hyperplane bits with the SMALLEST |margin| — the
    * likeliest sign errors for near neighbors sitting close to a
    * hyperplane. Recall is recovered by probing 2^probeBits buckets of
    * ONE table instead of maintaining more tables/planes (the memory
    * trade the paper quantifies). Deterministic: the flip ranking
    * orders by (|margin| asc, plane index asc), so the probe set is a
    * pure function of the query. The scan stays bucket-pruned — the
    * `isin` probe-set filter reaches the storage layer exactly like
    * the single-bucket form. */
  def lshTopKMultiProbe(vectors: DataFrame, idCol: String, vecCol: String,
                        query: Array[Double], k: Int, nPlanes: Int = 8,
                        probeBits: Int = 2): DataFrame = {
    require(probeBits >= 1 && probeBits <= nPlanes,
      s"probeBits out of [1,$nPlanes]: $probeBits")
    val dim = query.length
    val planes = hyperplanes(nPlanes, dim)
    val margins = planes.map(h => V.dotS(query, h))
    var bucket = 0L
    margins.zipWithIndex.foreach { case (m, i) =>
      if (m >= 0.0) bucket |= (1L << i)
    }
    val flips = margins.zipWithIndex
      .map { case (m, i) => (math.abs(m), i) }
      .sorted.take(probeBits).map(_._2)
    val probes = flips.foldLeft(Seq(bucket)) { (acc, b) =>
      acc ++ acc.map(_ ^ (1L << b))
    }.distinct
    vectors
      .withColumn("_bucket", lshBucket(col(vecCol), planes))
      .filter(col("_bucket").isin(probes: _*))
      .drop("_bucket")
      .transform(bruteForceTopK(_, idCol, vecCol, query, k))
  }

  // -------------------------------------------------------------------
  // IVF: coarse-quantizer ANN — the second scale path beside LSH.
  // Deterministic throughout: centroids init from the first k vectors
  // by id; Lloyd refinement via DataFrame aggregation.
  // -------------------------------------------------------------------

  /** The bounded-cell-size rule (FAISS guidance; the SemDeDup
    * discipline): k = max(8, ⌈n/256⌉) keeps expected cell size ≤ 256
    * so every Σ|cell|²-shaped consumer (mutual k-NN, semantic dedup)
    * stays LINEAR in n. This is the DEFAULT any quantizer fit for a
    * pairwise-within-cell consumer should use (VERDICT r11 #3) — the
    * 10× scale probe measured a FIXED 8-cell quantizer at ratio 150
    * (cells grow linearly, pairs quadratically). A caller supplying
    * its own centroids to [[mutualTopK]] /
    * [[graft.operators.Dedup.semanticDedup]] inherits this contract. */
  def scaledCellCount(n: Long): Int =
    math.max(8, math.ceil(n / 256.0).toInt)

  /** Fit `k` coarse centroids with `iters` Lloyd steps. Assignment is
    * [[ivfAssign]] over a narrow scan (the centroids ride inside its
    * expression, so no k-dependent plan); the update step
    * aggregates (cluster, dim) sums — k·dim rows to the driver, never
    * the data. */
  def ivfFit(vectors: DataFrame, idCol: String, vecCol: String, dim: Int,
             k: Int, iters: Int = 3): Seq[Array[Double]] = {
    def toDouble(s: Seq[Any]): Array[Double] = {
      val a = new Array[Double](dim)
      var i = 0
      while (i < dim && i < s.length) {
        a(i) = s(i) match {
          case f: Float => f.toDouble
          case d: Double => d
          case n: Number => n.doubleValue()
        }
        i += 1
      }
      a
    }
    var centroids: Seq[Array[Double]] = vectors
      .orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect().map(r => toDouble(r.getSeq[Any](0))).toSeq
    for (_ <- 0 until iters) {
      val sums = ivfAssign(vectors, vecCol, centroids)
        .select(col("cluster_id"), posexplode(col(vecCol)))
        .groupBy("cluster_id", "pos")
        .agg(sum(col("col").cast("double")).as("s"), count("*").as("n"))
        .collect()
      val byCluster = sums.groupBy(_.getInt(0))
      centroids = centroids.indices.map { c =>
        byCluster.get(c) match {
          case Some(rows) =>
            val a = new Array[Double](dim)
            rows.foreach(r => a(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
            a
          case None => centroids(c) // empty cluster keeps its centroid
        }
      }
    }
    centroids
  }

  /** Mutual (reciprocal) k-NN pairs within coarse-quantizer cells —
    * the high-precision pair miner (Artetxe & Schwenk 2019 mine
    * parallel text from mutual neighborhoods; the cell restriction is
    * the SemDeDup discipline that keeps it web-scale): vectors assign
    * under the FROZEN caller-supplied quantizer, each vector's
    * neighbor list ranks WITHIN its cell by (cosine desc, id-string
    * asc — the [[TopK]] contract), and a pair survives only when each
    * side sits in the other's top `k`. Mutuality is the precision
    * filter: a hub vector that merely sits near everything ranks high
    * in many lists but rarely ranks ITS neighbors back. Never
    * all-pairs — Σ|cell|² bounds candidates, each cell one shuffle
    * partition at scale; the directed lists collapse through the
    * bounded TopK aggregator (map-side partial top-k, no rank
    * window), and the mutual check is a self-join of that n·k-bounded
    * relation. CALLER CONTRACT: the centroid count must scale with
    * the corpus (k ≈ n/256 keeps cells bounded) — a FIXED quantizer
    * makes cells grow linearly and Σ|cell|² quadratically (the 10×
    * scale probe measured ratio 150 with 8 fixed cells). Output:
    * (id_a, id_b, cosine, rank_ab, rank_ba) with id_a < id_b
    * numerically. */
  /** The exact integral id types [[mutualTopK]]'s long-cast contract
    * accepts — compared as DataTypes, not typeName strings. */
  private val mutualTopKIdTypes: Set[org.apache.spark.sql.types.DataType] =
    Set(org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)

  def mutualTopK(vectors: DataFrame, idCol: String, vecCol: String,
                 centroids: Seq[Array[Double]], k: Int): DataFrame = {
    // the output contract orders/derives id_a < id_b NUMERICALLY via
    // a long cast; a non-numeric id type would cast to null and the
    // null comparison would silently filter EVERY pair (ADVICE r11) —
    // fail loudly up front instead, on the DataType itself rather
    // than typeName strings (ADVICE r12: "int"/"bigint" were dead
    // entries — Spark's typeNames are "integer"/"long")
    require(mutualTopKIdTypes.contains(vectors.schema(idCol).dataType),
      s"mutualTopK requires an integral id column; '$idCol' is " +
        vectors.schema(idCol).dataType.typeName)
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val assigned = ivfAssign(base, "vec", centroids)
      .localCheckpoint() // two pair sides, one scan
    val l = assigned.select(col("cluster_id"), col("id").as("a"),
      col("vec").as("vec_a"))
    val r = assigned.select(col("cluster_id"), col("id").as("b"),
      col("vec").as("vec_b"))
    val directed = l.join(r, Seq("cluster_id"))
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        V.cosine(col("vec_a"), col("vec_b")).as("cosine"))
    // n·k-bounded; pinned because both mutual-join sides consume it
    val ranked = TopK.perGroup(directed.select(
        col("a").cast("string").as("grp"),
        col("b").cast("string").as("doc_id"),
        col("b").cast("string").as("chunk_id"),
        col("cosine").as("score")), "grp", k)
      .select(col("grp").as("a"), col("chunk_id").as("b"),
        col("rank"), col("score"))
      .localCheckpoint()
    val ab = ranked.select(col("a"), col("b"),
      col("rank").as("rank_ab"), col("score").as("cosine"))
    val ba = ranked.select(col("b").as("a"), col("a").as("b"),
      col("rank").as("rank_ba"))
    ab.join(ba, Seq("a", "b"))
      .filter(col("a").cast("long") < col("b").cast("long"))
      .select(col("a").cast("long").as("id_a"),
        col("b").cast("long").as("id_b"),
        col("cosine"), col("rank_ab"), col("rank_ba"))
  }

  /** [[ivfAssign]], for callers of this name; `keyCol` is unused. */
  def ivfAssignAuto(vectors: DataFrame, keyCol: String, vecCol: String,
                    centroids: Seq[Array[Double]]): DataFrame =
    ivfAssign(vectors, vecCol, centroids)

  /** Tag every vector with its nearest centroid id (max dot, ties to
    * the lowest id — vectors and centroids need not be normalized
    * identically since ranking by cosine within probes re-scores
    * exactly). One [[graft.functions.NearestCentroid]] kernel per row,
    * the centroids a field of the expression: generated code of the
    * same size at any k. */
  def ivfAssign(vectors: DataFrame, vecCol: String,
                centroids: Seq[Array[Double]]): DataFrame =
    vectors.withColumn("cluster_id", ColumnBridge.column(NearestCentroid(
      ColumnBridge.expression(col(vecCol)),
      new CentroidMatrix(centroids.map(_.clone()).toArray))))

  /** The `nprobe` centroid ids nearest a query (max dot, ties to the
    * lowest id) — the coarse probe set for IVF and IVF-PQ. */
  def nearestCentroids(query: Array[Double],
                       centroids: Seq[Array[Double]],
                       nprobe: Int): Seq[Int] =
    centroids.zipWithIndex
      .map { case (c, i) => (V.dotS(query, c), i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(nprobe).map(_._2)

  /** IVF search: probe the `nprobe` centroids nearest the query, exact
    * cosine top-k inside those clusters only. With the table
    * pre-partitioned by cluster_id this prunes to nprobe partitions. */
  def ivfTopK(vectors: DataFrame, idCol: String, vecCol: String,
              query: Array[Double], k: Int,
              centroids: Seq[Array[Double]], nprobe: Int): DataFrame = {
    val probes = nearestCentroids(query, centroids, nprobe)
    ivfAssign(vectors, vecCol, centroids)
      .filter(col("cluster_id").isin(probes: _*))
      .drop("cluster_id")
      .transform(bruteForceTopK(_, idCol, vecCol, query, k))
  }
}

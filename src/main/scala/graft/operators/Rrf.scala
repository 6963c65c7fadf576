package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reciprocal Rank Fusion of a dense and a sparse result list.
  *
  * Ref: packages/vecpipe/search/sparse_search.py:21-63 — ranks are
  * 1-based positions in each score-descending list; fused score is
  * Σ 1/(rrf_k + rank) over the lists containing the id; top-k by fused
  * score; per-leg rank/score annotations are kept (`_dense_rank` etc.).
  *
  * Scale posture: both inputs are candidate lists (≤ candidate_k ≈ 200
  * rows per query, ref rerank.py:24-34), so the full-outer join is a
  * broadcast join and the rank windows run on tiny partitions. For
  * batch evaluation over many queries, pass a `queryCol` to rank within
  * each query's partition instead of globally.
  */
object Rrf {
  val DefaultRrfK = 60 // ref: shared/contracts/search.py:49-54

  /** Rank a result list: 1-based by score desc, deterministic id
    * tie-break (the reference inherits Qdrant's stable ordering). */
  def ranked(results: DataFrame, idCol: String, scoreCol: String,
             queryCol: Option[String] = None): DataFrame = {
    val w = queryCol match {
      case Some(q) => Window.partitionBy(q).orderBy(col(scoreCol).desc, col(idCol))
      case None    => Window.orderBy(col(scoreCol).desc, col(idCol))
    }
    results.withColumn("rank", row_number().over(w))
  }

  /** Fuse two ranked lists. Inputs need columns (idCol, scoreCol)
    * [+ queryCol] — plus a `rank` column when `preRanked` is set, in
    * which case the caller ALSO owns the one-row-per-key and
    * rank-asc-↔-score-desc alignment invariants the duplicate-id
    * safety net below assumes (the J2 remap path satisfies both by
    * collapsing to min(rank)/max(score) per original id before
    * fusing). Output: id [+ query], score (fused), _dense_rank,
    * _sparse_rank, _dense_score, _sparse_score, top-k per query.
    *
    * The leg merge is union + one max-aggregation rather than a
    * full-outer join: an outer join cannot broadcast, so it would cost
    * two shuffles plus sort-merge on both candidate lists, where the
    * union aggregation is a single bounded exchange (each leg
    * contributes ≤ k rows per query and at most one row per key, so
    * `max` reconstructs the outer join's NULL-padding exactly). */
  /** @param wDense/wSparse per-leg fusion weights (Cormack 2009's RRF
    *   generalized the way production rankers tune it — weighted
    *   reciprocal ranks; 1.0/1.0 is classic RRF and the default, so
    *   existing callers are bit-unchanged)
    * @param carry columns both legs hold that depend on the id alone (a
    *   payload): they ride the merge as extra grouping keys and come out
    *   beside the id, so no join has to fetch them after fusion */
  def fuse(dense: DataFrame, sparse: DataFrame, idCol: String,
           scoreCol: String, k: Int, rrfK: Int = DefaultRrfK,
           queryCol: Option[String] = None,
           preRanked: Boolean = false,
           wDense: Double = 1.0, wSparse: Double = 1.0,
           carry: Seq[String] = Nil): DataFrame = {
    val keys = queryCol.toSeq ++ (idCol +: carry)
    val nullI = lit(null).cast("int")
    val nullD = lit(null).cast("double")
    // preRanked: the caller already assigned leg ranks (needed when
    // the retrieval ids differ from the fusion ids — J2 assigns ranks
    // on the DERIVED list, then remaps; re-ranking here would tie-break
    // by the remapped id instead of the retrieval order)
    def leg(df: DataFrame) =
      if (preRanked) df else ranked(df, idCol, scoreCol, queryCol)
    val d = leg(dense)
      .select(keys.map(col) :+ col("rank").cast("int").as("_dense_rank") :+
        col(scoreCol).cast("double").as("_dense_score") :+
        nullI.as("_sparse_rank") :+ nullD.as("_sparse_score"): _*)
    val s = leg(sparse)
      .select(keys.map(col) :+ nullI.as("_dense_rank") :+
        nullD.as("_dense_score") :+ col("rank").cast("int").as("_sparse_rank") :+
        col(scoreCol).cast("double").as("_sparse_score"): _*)
    // ranked inputs carry one row per key; if a caller ever passes
    // duplicate ids, min(rank)/max(score) keep the BEST row per leg
    // (rank asc ↔ score desc within a leg, so the pair stays aligned)
    val fused = d.unionByName(s)
      .groupBy(keys.map(col): _*)
      .agg(min("_dense_rank").as("_dense_rank"),
        max("_dense_score").as("_dense_score"),
        min("_sparse_rank").as("_sparse_rank"),
        max("_sparse_score").as("_sparse_score"))
      .withColumn("score",
        lit(wDense) *
          coalesce(lit(1.0) / (lit(rrfK) + col("_dense_rank")), lit(0.0)) +
        lit(wSparse) *
          coalesce(lit(1.0) / (lit(rrfK) + col("_sparse_rank")), lit(0.0)))
    queryCol match {
      case Some(q) =>
        val w = Window.partitionBy(q).orderBy(col("score").desc, col(idCol))
        fused.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= k).drop("_rn")
          .orderBy(col(q), col("score").desc, col(idCol))
      case None =>
        fused.orderBy(col("score").desc, col(idCol)).limit(k)
    }
  }

  /** CombSUM / CombMNZ score fusion (Fox & Shaw, TREC-2 1994) — the
    * SCORE-space alternative to RRF's rank-space fusion: each leg's
    * candidate scores min–max normalize to [0,1] over ITS OWN candidate
    * list, CombSUM adds them, CombMNZ further multiplies by the number
    * of legs that returned the id (rewarding multi-evidence hits — Lee
    * 1997 measured MNZ as the best of the Comb family). Normalization
    * stats are one broadcast 1-row aggregate per leg; the leg merge is
    * the same union + max-aggregation as [[fuse]] (never an
    * un-broadcastable outer join); a constant-score leg (max = min)
    * normalizes to 1.0 everywhere. Values are fixed-order arithmetic
    * over per-leg min/max — engine-order-independent.
    * Output: (idCol, combsum, combmnz, n_legs), top-k by
    * (combmnz desc, id). */
  def combSum(dense: DataFrame, sparse: DataFrame, idCol: String,
              scoreCol: String, k: Int): DataFrame = {
    def norm(df: DataFrame, out: String) = {
      val stats = broadcast(df.agg(min(col(scoreCol)).as("__mn"),
        max(col(scoreCol)).as("__mx")))
      df.crossJoin(stats)
        .select(col(idCol),
          when(col("__mx") > col("__mn"),
            (col(scoreCol) - col("__mn")) / (col("__mx") - col("__mn")))
            .otherwise(lit(1.0)).as(out))
    }
    val nullD = lit(null).cast("double")
    val merged = norm(dense, "__nd").withColumn("__ns", nullD)
      .unionByName(norm(sparse, "__ns").withColumn("__nd", nullD))
      .groupBy(col(idCol))
      .agg(max("__nd").as("__nd"), max("__ns").as("__ns"))
    val nLegs = col("__nd").isNotNull.cast("int") +
      col("__ns").isNotNull.cast("int")
    val sum = coalesce(col("__nd"), lit(0.0)) +
      coalesce(col("__ns"), lit(0.0))
    merged.select(col(idCol), sum.as("combsum"),
        (sum * nLegs.cast("double")).as("combmnz"), nLegs.as("n_legs"))
      .orderBy(col("combmnz").desc, col(idCol)).limit(k)
  }
}

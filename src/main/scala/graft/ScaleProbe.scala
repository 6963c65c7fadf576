package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale evidence (VERDICT r10 #7): stage a 10x upscale of a
  * testdata dir ("sf1" from sf0.1), run a panel of the suite's most
  * expensive queries at BOTH scales in one session, and print per-query
  * scaling ratios (≈10 for a linear single-pass operator, ≈1 for a
  * bounded one; superlinear growth flags a plan for audit).
  *
  * Upscaling is 10 replicas with remapped ids (id*10 + r — collision-
  * free, preserves per-key densities). Document text is MUTATED per
  * replica — every word at position i with (i + r) % 3 == 0 gets an
  * "x<r>" suffix — because verbatim replication would make every doc a
  * 10-way exact/near duplicate and quadratically explode exactly the
  * dedup operators the probe measures. The mutation kills EVERY
  * cross-replica 3-gram shingle (any 3 consecutive positions contains
  * a mutated one, and mutations differ per replica), so near-dup
  * structure WITHIN a replica is preserved exactly while cross-replica
  * similarity is ~0 — the honest approximation of independently
  * generated 10x data. Embeddings scale each replica by (1 + r*1e-4):
  * directions (and thus all cosine structure) unchanged. Events keep
  * their timestamps, so time-window densities honestly grow 10x.
  *
  * Caveat recorded with the numbers: tuned operators (dedup_tuned,
  * ivf_tuned) may SELECT a different configuration at the larger scale
  * — their ratio measures the whole sweep+run pipeline, not a fixed
  * plan.
  */
object ScaleProbe {

  val DefaultQueries: String = Seq(
    "bm25_topk", "related_docs", "dedup_minhash", "dedup_tuned",
    "textrank_keywords", "q2_join_agg", "compact_zorder",
    "streaming_join", "ann_ivf", "curation_pipeline",
    "minhash_incremental", "cdc_reindex", "bench_eval",
    "search_after",
    // every PAIR-GENERATING operator belongs in the default panel —
    // the class where a fixed quantizer/config hides a quadratic
    // (knn_mutual's ratio-150 catch, r11)
    "knn_mutual", "dedup_semantic", "dedup_semantic_incremental",
    "dedup_containment", "ann_pq_tuned",
    // the STREAMING family (VERDICT r12 #5): their state bounds —
    // eviction output-neutrality, windows x 256 HLL registers,
    // interval-join buffer retention — were spec'd but never measured
    // at scale; a 10x event stream probes the per-batch state-store
    // commit path with 10x rows through the same watermark windows
    "streaming_join_outer", "streaming_distinct_window",
    "streaming_dedup_ttl",
    // the persisted-sidecar read-back paths and the held-out tuned
    // quality filter (VERDICT r13 #5): their r13 probe numbers were
    // one-off NOTES entries — panel membership keeps the read-back
    // and holdout paths under standing scale coverage
    "search_index_persist", "fallback_index_persist",
    "quality_tuned",
    // the r14 rows (VERDICT r14 #7 / r15 #9): the five tuned-fit
    // sidecar read-back paths and the streaming restart protocol had
    // one-off NOTES_r14 probes only — panel membership keeps them
    // under standing scale coverage
    "ann_pq_fit_persist", "ivf_fit_persist", "ann_fit_persist",
    "hybrid_fit_persist", "dedup_fit_persist",
    "streaming_restart_resume").mkString(",")

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "/tmp/graft-sf1"
    val queries =
      (if (args.length > 2) args(2) else DefaultQueries).split(',').toSeq
    val runs = if (args.length > 3) args(3).toInt else 2
    val spark = GraftSession(GraftSession.cpus(32))
    QueryRun.warmUp(spark)

    stage(spark, src, dest)

    def once(name: String, dir: String): Double =
      try QueryRun(spark)(SparkEntry.queries(name)(spark, dir).count()).wallSec
      catch { case NonFatal(e) =>
        System.err.println(s"[scale] $name@$dir failed: ${e.getMessage}")
        -1.0
      }
    // interleave (src, dest) passes: the query's one-time costs
    // (codegen for the shared plan shape, per-dir fixture staging)
    // land in pass 1 of EACH side and the pass-2+ mins compare
    // equally-warm executions — measured: all-src-then-all-dest gave
    // dest a free ride on src's warming (ratios < 1 on 10x data)
    def bestPair(name: String): (Double, Double) = {
      val pairs = (1 to runs).map(_ => (once(name, src), once(name, dest)))
      def best(ts: Seq[Double]) = if (ts.exists(_ < 0)) -1.0 else ts.min
      (best(pairs.map(_._1)), best(pairs.map(_._2)))
    }
    Bench.probeSha2(spark) // warm the probe shape

    val rows = queries.map { q =>
      val (a, b) = bestPair(q)
      val ratio = if (a > 0 && b > 0) b / a else -1.0
      System.err.println(f"[scale] $q%-22s src=$a%8.2f dest=$b%8.2f ratio=$ratio%6.2f")
      (q, a, b, ratio)
    }
    val calEnd = Bench.probeSha2(spark)
    val qs = rows.map { case (q, a, b, r) =>
      f""""$q":{"src_sec":$a%.3f,"dest_sec":$b%.3f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","src":"$src","dest":"$dest","factor":10,"runs":$runs,"calibration_sha2m_sec":$calEnd,"queries":$qs}""")
    spark.stop()
  }

  /** Stage the 10x upscale into `dest` (skipped if the marker exists). */
  def stage(spark: SparkSession, src: String, dest: String): Unit = {
    val marker = new java.io.File(dest, "_STAGED")
    if (marker.exists()) return
    new java.io.File(dest).mkdirs()
    val reps = explode(sequence(lit(0L), lit(9L))).as("r")

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dest/$name.parquet")

    // dims copy verbatim
    for (n <- Seq("region", "nation", "supplier", "part"))
      write(Tables.load(spark, src, n), n)

    val docs = Tables.load(spark, src, "documents")
    write(docs.select(col("*"), reps)
      .withColumn("doc_id", col("doc_id") * 10 + col("r"))
      .withColumn("text", array_join(
        transform(split(col("text"), " "), (w, i) =>
          when((i.cast("long") + col("r")) % 3 === 0 && length(w) > 0,
            concat(w, lit("x"), col("r").cast("string"))).otherwise(w)),
        " "))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("r"), "documents")

    val emb = Tables.load(spark, src, "embeddings")
    write(emb.select(col("*"), reps)
      .withColumn("vec_id", col("vec_id") * 10 + col("r"))
      .withColumn("embedding", transform(col("embedding"), x =>
        (x * (lit(1.0f) + col("r").cast("float") * lit(1e-4f)))
          .cast("float")))
      .drop("r"), "embeddings")

    val ev = Tables.load(spark, src, "events")
    write(ev.select(col("*"), reps)
      .withColumn("event_id", col("event_id") * 10 + col("r"))
      .withColumn("user_id", col("user_id") * 10 + col("r"))
      .drop("r"), "events")

    val li = Tables.load(spark, src, "lineitem")
    write(li.select(col("*"), reps)
      .withColumn("l_orderkey", col("l_orderkey") * 10 + col("r"))
      .drop("r"), "lineitem")

    val ord = Tables.load(spark, src, "orders")
    write(ord.select(col("*"), reps)
      .withColumn("o_orderkey", col("o_orderkey") * 10 + col("r"))
      .withColumn("o_custkey", col("o_custkey") * 10 + col("r"))
      .drop("r"), "orders")

    val cust = Tables.load(spark, src, "customer")
    write(cust.select(col("*"), reps)
      .withColumn("c_custkey", col("c_custkey") * 10 + col("r"))
      .drop("r"), "customer")

    java.nio.file.Files.writeString(marker.toPath, "ok")
  }
}

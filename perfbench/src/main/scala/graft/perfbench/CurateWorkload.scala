package graft.perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Knn, TextAnalysis}

/** What one curate pass removed at each stage, and where it wrote. */
final case class Verdicts(path: String, exact: Set[String],
    nearPairs: Set[(String, String)], cells: Seq[Array[Double]],
    semantic: Set[String], quality: Set[String], out: String)

/** `curate`: one batch pipeline over a raw corpus read from parquet.
  * Every stage reads the corpus again, drops the ids earlier stages
  * removed and hands its own verdicts to the Spark driver; nothing is cached
  * between stages, and the session cache is cleared between passes. The
  * last stage writes the kept docs. */
final class CurateWorkload(spark: SparkSession, in: String, work: String,
    report: ArrayBuffer[String]) extends Workload {

  val Dim = 64
  val SemanticThreshold = 0.95
  val DecontamN = 8
  // recall the pipeline must reach on the planted copies: MinHash LSH
  // (16 hashes, 4 bands) on pairs with 3-gram Jaccard >= 0.9, and the
  // cell-bounded semantic pass, which misses a pair the quantizer splits
  val MinNearRecall = 0.9
  val MinSemanticRecall = 0.85
  val Stages = 5
  // a warm pass takes 7-10 s on 4 cores: a 20 s run time is two passes
  val unitSeconds = 10.0

  private val truth = Io.readJson(s"$in/truth.json")
  private val exactCopies = Io.strings(truth.get("exact_copies")).toSet
  private val nearPairs = Io.pairs(truth.get("near_pairs"))
  private val semanticPairs = Io.pairs(truth.get("semantic_pairs"))
  private val overlapIds = Io.strings(truth.get("overlap_ids")).toSet
  private val lowQuality = Io.strings(truth.get("low_quality_ids")).toSet
  private val checks = new Checks(report)
  private val corpus = s"$work/corpus.parquet"
  private val evalPath = s"$work/eval.parquet"
  private var nDocs = 0L
  private var passes = 0
  // traced-run yields: (verified, candidate) pair counts per pass
  private val minhashYield = ArrayBuffer.empty[Double]
  private val semanticYield = ArrayBuffer.empty[Double]

  /** Parquet copies of the generated JSON lines. This is input
    * generation, so it runs before the clock and outside setup_s. */
  def prepare(): Unit = {
    val schema = "doc_id STRING, text STRING, vector ARRAY<DOUBLE>"
    Io.readDocs(spark, s"$in/corpus.jsonl", schema).write.parquet(corpus)
    Io.readDocs(spark, s"$in/eval.jsonl", "eval_id STRING, text STRING")
      .write.parquet(evalPath)
  }

  def setup(): Map[String, Double] = {
    val t0 = System.nanoTime()
    nDocs = docsIn(corpus)
    spark.read.parquet(evalPath).count()
    Map("setup.load_s" -> Collection.seconds(t0))
  }

  /** One pass off the clock. The JVM's first pass pays JIT compilation
    * and code generation; setup_s includes that cost, and the timed
    * passes run warm, because one cold pass spread by about 0.3 of its
    * median over ten seeds. */
  def warm(): Unit = {
    spark.catalog.clearCache()
    pass(Tracer.Off, corpus, "warm")
  }

  private def without(path: String, removed: Iterable[String]): DataFrame = {
    val all = spark.read.parquet(path)
    if (removed.isEmpty) all else all.filter(!col("doc_id").isin(removed.toSeq: _*))
  }

  private def pass(tr: Tracer, path: String, op: String): Verdicts = {
    val removed = mutable.Set.empty[String]
    def survivors = without(path, removed)
    val exact = tr.span("dedup.exact", "dedup", op) {
      Dedup.exact(survivors, "doc_id", "text").filter(!col("is_kept"))
        .select("id").collect().map(_.getString(0)).toSet
    }
    removed ++= exact
    val near = tr.span("dedup.minhash", "dedup", op) {
      Dedup.minhashNearDups(survivors, "doc_id", "text").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
    }
    removed ++= near.map(_._2)
    val cells = tr.span("knn.ivf_fit", "knn", op) {
      Knn.ivfFit(survivors, "doc_id", "vector", Dim,
        Knn.scaledCellCount(docsIn(path) - removed.size))
    }
    val semantic = tr.span("dedup.semantic", "dedup", op) {
      Dedup.semanticDedup(survivors, "doc_id", "vector", cells, SemanticThreshold)
        .filter(col("is_duplicate")).select("id").collect()
        .map(_.getString(0)).toSet
    }
    removed ++= semantic
    val quality = tr.span("quality.filter", "textanalysis", op) {
      val s = survivors
      val c4 = TextAnalysis.c4Filters(s, "doc_id", "text")
        .filter(!col("c4_keep")).select("id")
      val gopher = TextAnalysis.gopherQuality(s, "doc_id", "text")
        .filter(!col("gopher_pass")).select("id")
      c4.union(gopher).distinct().collect().map(_.getString(0)).toSet
    }
    removed ++= quality
    passes += 1
    val out = s"$work/kept-$passes.parquet"
    tr.span("dedup.decontam", "dedup", op) {
      Dedup.decontaminateRows(survivors, "doc_id", "text",
        spark.read.parquet(evalPath), "eval_id", "text", DecontamN)
        .write.parquet(out)
    }
    Verdicts(path, exact, near, cells, semantic, quality, out)
  }

  private val counts = mutable.Map.empty[String, Long]
  private def docsIn(path: String): Long =
    counts.getOrElseUpdate(path, spark.read.parquet(path).count())

  /** The traced run's useful-work ratios, computed off the clock: MinHash
    * pairs verified per candidate pair, semantic duplicates per
    * within-cell pair. */
  private def yields(v: Verdicts): Unit = {
    val afterExact = without(v.path, v.exact)
    val candidates = Dedup.minhashCandidates(Dedup.minhashSignatures(
      afterExact, "doc_id", "text", 3, 16), 16, 4).count()
    minhashYield += v.nearPairs.size.toDouble / math.max(1L, candidates)
    val cellPairs = Knn.ivfAssignAuto(
        without(v.path, v.exact ++ v.nearPairs.map(_._2)),
        "doc_id", "vector", v.cells)
      .groupBy("cluster_id").count().collect()
      .map { r => val c = r.getLong(1); c * (c - 1) / 2 }.sum
    semanticYield += v.semantic.size.toDouble / math.max(1L, cellPairs)
  }

  def phase(tr: Tracer, seconds: Double): Phase = {
    val lat = ArrayBuffer.empty[Double]
    val labels = ArrayBuffer.empty[String]
    var attempted, failed = 0
    for (_ <- 1 to units(seconds)) {
      val op = s"pass-${passes + 1}"
      attempted += Stages
      spark.catalog.clearCache()
      try {
        val t0 = System.nanoTime()
        val v = pass(tr, corpus, op)
        lat += (System.nanoTime() - t0) / 1e6
        labels += op
        failed += verify(op, v)
        if (tr.on) yields(v)
      } catch { case e: Exception => failed += Stages; checks.error(op, e) }
    }
    Phase(lat.toSeq, nDocs / (Stats.median(lat.toSeq) / 1000), attempted,
      failed, labels.toSeq)
  }

  /** Check one pass's output; returns the number of failed stages. */
  private def verify(op: String, v: Verdicts): Int = {
    val kept = spark.read.parquet(v.out).select("doc_id", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val keptIds = kept.map(_._1).toSet
    val evalGrams = spark.read.parquet(evalPath).select("text").collect()
      .iterator.flatMap(r => Reference.ngrams(r.getString(0), DecontamN)).toSet
    def recall(pairs: Seq[(String, String)], found: ((String, String)) => Boolean) =
      pairs.count(found).toDouble / math.max(1, pairs.size)
    val nearRecall = recall(nearPairs, p => v.nearPairs(p))
    val semRecall = recall(semanticPairs, p => v.semantic(p._2))
    val results = Seq(
      checks(s"$op exact",
        (exactCopies.subsetOf(v.exact), "a planted exact copy was kept"),
        (kept.map(_._2).distinct.length == kept.length,
          "two kept docs have identical text")),
      checks(s"$op minhash", (nearRecall >= MinNearRecall,
        f"near-duplicate recall $nearRecall%.3f < $MinNearRecall")),
      checks(s"$op semantic", (semRecall >= MinSemanticRecall,
        f"semantic-duplicate recall $semRecall%.3f < $MinSemanticRecall")),
      checks(s"$op quality", ((lowQuality & keptIds).isEmpty,
        s"${(lowQuality & keptIds).size} planted low-quality docs kept")),
      checks(s"$op decontam",
        ((overlapIds & keptIds).isEmpty, "a planted eval-overlap doc was kept"),
        (kept.forall(k => !Reference.ngrams(k._2, DecontamN).exists(evalGrams)),
          s"a kept doc shares a $DecontamN-gram with the eval set")))
    report += f"$op: kept ${kept.length} of $nDocs, near recall " +
      f"$nearRecall%.3f, semantic recall $semRecall%.3f"
    results.count(!_)
  }

  def layerMetrics(tr: Tracer): Map[String, Double] = Map(
    "dedup.exact_ms" -> tr.medianMs("dedup.exact"),
    "dedup.minhash_ms" -> tr.medianMs("dedup.minhash"),
    "dedup.minhash_yield" -> Stats.median(minhashYield.toSeq),
    "knn.ivf_fit_ms" -> tr.medianMs("knn.ivf_fit"),
    "dedup.semantic_ms" -> tr.medianMs("dedup.semantic"),
    "dedup.semantic_yield" -> Stats.median(semanticYield.toSeq),
    "quality.filter_ms" -> tr.medianMs("quality.filter"),
    "dedup.decontam_ms" -> tr.medianMs("dedup.decontam"))

  def facts: Seq[(String, String)] = Seq("docs", "share_exact_copy",
    "share_near_copy", "share_semantic_copy", "share_eval_overlap",
    "share_low_quality", "min_near_jaccard")
    .map(k => k -> truth.get(k).asText())
}

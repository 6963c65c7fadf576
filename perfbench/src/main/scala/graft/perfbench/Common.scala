package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one timed phase of a workload produced. `latMs` holds one entry
  * per timed operation (request, batch or pipeline pass); `itemsPerS` is
  * the workload's rate (requests, docs received or input docs per
  * second). `attempted`/`failed` count operations for fail_frac;
  * `labels` describe the timed operations, one per latency. */
final case class Phase(latMs: Seq[Double], itemsPerS: Double,
    attempted: Int, failed: Int, labels: Seq[String] = Nil)

/** A benchmark workload. `Main` calls `setup` once, then `warm` once,
  * then `phase`: once untraced, or in a traced run once traced and then
  * four times more for the tracing overhead. */
trait Workload {
  /** Build what the workload needs from its input files; returns the
    * time each part took, by per-layer metric name. */
  def setup(): Map[String, Double]

  /** Run a few operations off the clock so JIT and caches settle. */
  def warm(): Unit

  /** The run time one unit of work (a request block, a batch or a pass)
    * stands for. */
  def unitSeconds: Double

  /** Run the timed operations: one unit per `unitSeconds` of `seconds`,
    * rounded, and at least one. Their number never depends on how fast
    * they go, so every run measures the same work. */
  def phase(tr: Tracer, seconds: Double): Phase

  /** Per-layer metrics of the traced phase. */
  def layerMetrics(tr: Tracer): Map[String, Double]

  /** Output checks deferred until the timed phase's memory is read; returns
    * the number of operations that failed them. */
  def verify(): Int = 0

  /** Planted or measured input properties, for the report. */
  def facts: Seq[(String, String)]

  /** The number of units a phase of `seconds` runs. */
  def units(seconds: Double): Int =
    math.max(1, math.round(seconds / unitSeconds).toInt)
}

/** Output checks: each failure is counted once per operation and the
  * first few are kept for the report. */
final class Checks(report: ArrayBuffer[String]) {
  var failures = 0

  /** Records the failed conditions of one operation; true if all held. */
  def apply(op: String, conds: (Boolean, String)*): Boolean = {
    val bad = conds.filterNot(_._1).map(_._2)
    if (bad.nonEmpty) {
      failures += 1
      if (failures <= 20) report += s"check failed [$op]: ${bad.mkString("; ")}"
    }
    bad.isEmpty
  }

  def error(op: String, e: Throwable): Unit = {
    failures += 1
    if (failures <= 20) report += s"error [$op]: $e"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail percentile: p95 when at least 10 samples lie beyond it,
    * else the highest percentile that still has 10 beyond it, else (fewer
    * than 11 samples) the maximum. Returns (quantile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val n = xs.size
    if (n < 11) (1.0, if (xs.isEmpty) Double.NaN else xs.max)
    else {
      val q = math.min(0.95, (n - 11).toDouble / (n - 1))
      (q, quantile(xs, q))
    }
  }
}

object Io {
  val mapper = new ObjectMapper()

  def readJson(path: String): JsonNode = mapper.readTree(new File(path))

  def readJsonl(path: String): IndexedSeq[JsonNode] =
    Files.readAllLines(new File(path).toPath).asScala.iterator
      .filter(_.nonEmpty).map(mapper.readTree).toIndexedSeq

  def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText()).toSeq

  def pairs(n: JsonNode): Seq[(String, String)] =
    n.elements().asScala.map(p => (p.get(0).asText(), p.get(1).asText())).toSeq

  def dirBytes(path: String): Long = {
    val p = new File(path).toPath
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_: Path)).sum
    }
  }

  /** Read a JSON-lines file with an explicit schema (no inference job). */
  def readDocs(spark: SparkSession, path: String, schema: String): DataFrame =
    spark.read.schema(schema).json(path)
}

/** Bench-side reference computations, kept independent of the engine. */
object Reference {
  private val Token = "[a-z0-9_]+(?:-[a-z0-9_]+)*".r

  /** Lower-cased word tokens of at least two characters. */
  def tokens(text: String): IndexedSeq[String] =
    Token.findAllIn(text.toLowerCase(java.util.Locale.ROOT))
      .filter(_.length >= 2).toIndexedSeq

  def ngrams(text: String, n: Int): Iterator[String] =
    tokens(text).sliding(n).filter(_.size == n).map(_.mkString(" "))

  /** The deterministic test embedding: SHA-256 of the UTF-8 text, eight
    * big-endian uint32 words scaled to [-1, 1], zero-padded to `dim`,
    * L2-normalized. */
  def embed(text: String, dim: Int): Array[Double] = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8"))
    val v = new Array[Double](dim)
    var n = 0
    while (n < 8 && n < dim) {
      val u = ((h(4 * n) & 0xffL) << 24) | ((h(4 * n + 1) & 0xffL) << 16) |
        ((h(4 * n + 2) & 0xffL) << 8) | (h(4 * n + 3) & 0xffL)
      v(n) = (u.toDouble / 4294967296.0) * 2.0 - 1.0
      n += 1
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    if (norm > 0) v.indices.foreach(i => v(i) /= norm) else v(0) = 1.0
    v
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }
}

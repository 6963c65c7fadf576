package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.{Ingest, SearchEngine}
import graft.search.SearchEngine.SearchRequest

/** `ingest`: a collection built from an initial corpus receives append
  * batches one at a time. Each batch is merged into the sync state,
  * its new and updated docs are chunked and embedded, the collection is
  * rewritten blue/green, its BM25 index rebuilt, and one probe search
  * must find the batch. */
final class IngestWorkload(spark: SparkSession, in: String, work: String,
    report: ArrayBuffer[String]) extends Workload {
  import Collection._

  private val truth = Io.readJson(s"$in/truth.json")
  private val batches = (0 until truth.get("batches").size()).map { b =>
    val t = truth.get("batches").get(b)
    (s"$in/batch-${"%04d".format(b)}.jsonl", t.get("received").asInt(),
      t.get("new").asInt() + t.get("updated").asInt(),
      t.get("probe_term").asText(), t.get("probe_doc").asText())
  }
  private val checks = new Checks(report)
  // one batch per 5 s of run time
  val unitSeconds = 5.0
  private var coll: Collection = _
  private var next = 0
  // per-batch measurements of the phases run so far, for the traced
  // phase's layer metrics
  private val ratios = ArrayBuffer.empty[Double]
  private val bytesPerDoc = ArrayBuffer.empty[Double]

  def setup(): Map[String, Double] = {
    val (c, parts) = build(spark, s"$in/docs.jsonl", s"$work/collection")
    coll = c
    parts
  }

  /** One batch through a separate warm-up collection. */
  def warm(): Unit = {
    val main = coll
    coll = build(spark, s"$in/warm-docs.jsonl", s"$work/warm-collection")._1
    batch(Tracer.Off, s"$in/warm-batch.jsonl",
      truth.get("warm_batch").get("probe_term").asText(), "warm")
    coll.drop()
    coll = main
  }

  /** Hand one batch over and process it; returns the ids it (re)processed
    * and the probe's hits. */
  private def batch(tr: Tracer, path: String, probe: String,
      op: String): (Set[String], Array[Row], Long) = {
    val c = coll
    val docs = Io.readDocs(spark, path, DocSchema)
    val procIds = tr.span("streaming.merge", "streaming", op)(merge(c, docs))
    val fresh = tr.span("chunking.chunk_embed", "chunking", op) {
      chunks(docs.filter(col("doc_id").isin(procIds.toSeq: _*)))
        .localCheckpoint()
    }
    val (table, bytes) = tr.span("search.swap_write", "search", op) {
      val kept = c.table.filter(!col("doc_id").isin(procIds.toSeq: _*))
      val target = Ingest.reindexSwap(spark, kept.unionByName(fresh), c.root)
      val t = Ingest.readCurrent(spark, c.root).cache()
      t.count()
      (t, Io.dirBytes(target))
    }
    c.table.unpersist()
    c.table = table
    val index = tr.span("bm25.rebuild", "bm25", op)(standingIndex(table))
    unpersist(c.index)
    c.index = index
    val hits = tr.span("search.probe", "search", op) {
      SearchEngine.search(table, SearchRequest(probe), sparseIndex = Some(index))
        .collect()
    }
    (procIds.toSet, hits, bytes)
  }

  def phase(tr: Tracer, seconds: Double): Phase = {
    val lat = ArrayBuffer.empty[Double]
    val labels = ArrayBuffer.empty[String]
    var attempted, failed, received = 0
    val end = math.min(batches.size, next + units(seconds))
    while (next < end) {
      val (path, nReceived, nProcess, probe, probeDoc) = batches(next)
      val op = s"batch-$next"
      next += 1
      attempted += 1
      try {
        val t0 = System.nanoTime() // hand-over
        val (proc, hits, bytes) = batch(tr, path, probe, op)
        lat += (System.nanoTime() - t0) / 1e6
        labels += s"$op received $nReceived, processed ${proc.size}"
        received += nReceived
        ratios += proc.size.toDouble / nReceived
        bytesPerDoc += bytes.toDouble / nReceived
        // off the clock: the new generation must hold exactly the docs
        // received so far, and the probe must see the batch
        coll.docIds ++= Io.readDocs(spark, path, DocSchema).select("doc_id")
          .collect().map(_.getString(0))
        val held = coll.table.select("doc_id").distinct().collect()
          .map(_.getString(0)).toSet
        if (!checks(op,
            (held == coll.docIds, s"generation holds ${held.size} docs, " +
              s"expected ${coll.docIds.size}"),
            (proc.size == nProcess, s"${proc.size} docs to process, " +
              s"planted $nProcess new or updated"),
            (hits.exists(_.getAs[String]("doc_id") == probeDoc),
              s"probe '$probe' missed $probeDoc"))) failed += 1
      } catch { case e: Exception => failed += 1; checks.error(op, e) }
    }
    Phase(lat.toSeq, received / (lat.sum / 1000), attempted, failed,
      labels.toSeq)
  }

  def layerMetrics(tr: Tracer): Map[String, Double] = Map(
    "streaming.merge_ms" -> tr.medianMs("streaming.merge"),
    "streaming.process_ratio" -> Stats.median(ratios.toSeq),
    "chunking.chunk_embed_ms" -> tr.medianMs("chunking.chunk_embed"),
    "search.swap_write_ms" -> tr.medianMs("search.swap_write"),
    "search.bytes_written_per_doc" -> Stats.median(bytesPerDoc.toSeq),
    "bm25.rebuild_ms" -> tr.medianMs("bm25.rebuild"),
    "search.probe_ms" -> tr.medianMs("search.probe"))

  def facts: Seq[(String, String)] =
    Seq("initial_docs", "share_new", "share_updated", "share_unchanged")
      .map(k => k -> truth.get(k).asText()) :+
      ("docs_per_batch" -> truth.get("batches").get(0).get("received").asText())
}

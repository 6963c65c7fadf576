package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Bm25, Chunking, Dedup}
import graft.search.Ingest
import graft.streaming.Sync

/** A live collection as `search` and `ingest` keep it: the sync state of
  * the documents it has seen, the current generation of its chunks table
  * (cached, as a serving collection would be) and the BM25 index it
  * serves from. */
final class Collection(val root: String) {
  var state: DataFrame = _
  var table: DataFrame = _
  var index: Bm25.Index = _
  var syncId = 0L
  val docIds = mutable.Set.empty[String]

  def drop(): Unit = {
    if (table != null) table.unpersist()
    Collection.unpersist(index)
  }
}

object Collection {
  val Id = "bench"
  val Dim = 64
  val ChunkCfg = Chunking.ChunkConfig(minTokens = 20, maxTokens = 64,
    overlapTokens = 8)
  val DocSchema = "doc_id STRING, uri STRING, text STRING"
  private val StateSchema = StructType.fromDDL("doc_id STRING, uri STRING, " +
    "content_hash STRING, status STRING, last_seen_at BIGINT, is_stale BOOLEAN")

  def chunks(docs: DataFrame): DataFrame =
    Ingest.buildChunks(docs, Id, "doc_id", "text", "recursive", ChunkCfg, Dim)

  /** The sync-side view of a batch of documents. */
  def hashed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("uri"),
      Dedup.contentHash(col("text")).as("content_hash"))

  /** Merge a batch into the collection's sync state (materialized) and
    * return the ids that need (re)processing. */
  def merge(c: Collection, docs: DataFrame): Array[String] = {
    c.syncId += 1
    c.state = Sync.mergeBatch(c.state, hashed(docs), c.syncId).localCheckpoint()
    Sync.toProcess(c.state).select("doc_id").collect().map(_.getString(0))
  }

  /** The BM25 index the collection serves from: stats pinned by the
    * engine, doc weights cached and materialized here. */
  def standingIndex(table: DataFrame): Bm25.Index = {
    val i = Bm25.buildIndex(table, "chunk_id", "content", pinStats = true)
    val pinned = i.copy(docWeights = i.docWeights.cache())
    pinned.docWeights.count()
    pinned
  }

  def unpersist(i: Bm25.Index): Unit =
    if (i != null) { i.docWeights.unpersist(); i.stats.unpersist() }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Build a collection under `root` from a JSON-lines corpus the way an
    * initial sync would: read, merge into an empty sync state, chunk and
    * embed the docs to process, write the first generation, index it.
    * Returns the collection and the time of each part, keyed by per-layer
    * metric name and in that metric's unit. */
  def build(spark: SparkSession, docsPath: String,
      root: String): (Collection, Map[String, Double]) = {
    val c = new Collection(root)
    var t0 = System.nanoTime()
    val docs = Io.readDocs(spark, docsPath, DocSchema).cache()
    docs.count()
    val load = seconds(t0)
    t0 = System.nanoTime()
    c.state = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StateSchema)
    val ids = merge(c, docs)
    val mergeMs = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val fresh = chunks(docs.filter(col("doc_id").isin(ids.toSeq: _*)))
      .localCheckpoint()
    val chunkMs = (System.nanoTime() - t1) / 1e6
    Ingest.reindexSwap(spark, fresh, root)
    c.table = Ingest.readCurrent(spark, root).cache()
    c.table.count()
    val buildS = seconds(t0)
    c.docIds ++= ids
    docs.unpersist()
    t0 = System.nanoTime()
    c.index = standingIndex(c.table)
    (c, Map("setup.load_s" -> load, "search.build_collection_s" -> buildS,
      "bm25.build_index_s" -> seconds(t0), "streaming.merge_ms" -> mergeMs,
      "chunking.chunk_embed_ms" -> chunkMs))
  }
}

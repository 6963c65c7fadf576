package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Rrf
import graft.search.SearchEngine
import graft.search.SearchEngine.SearchRequest

/** One request of the generated stream. */
final case class Req(id: Int, query: String, mode: String, k: Int,
    filter: Option[(String, String, String)], rerank: Boolean,
    check: Boolean) {

  /** The request as the engine takes it. */
  def toEngine: SearchRequest = SearchRequest(query = query, k = k,
    searchMode = mode, useReranker = rerank, filters = filter.map {
      case (f, "<=", v) => Map[String, Any](f -> s"<= $v")
      case (f, _, v) => Map[String, Any](f -> s"$v*")
    }.getOrElse(Map.empty))

  def fetchK: Int = if (rerank) SearchEngine.candidateK(k) else k

  /** The same filter as a plain column predicate, for the leg queries. */
  def filterCol: Option[Column] = filter.map {
    case (f, "<=", v) => col(f) <= v.toInt
    case (f, _, v) => col(f).startsWith(v)
  }

  def admits(docId: String, chunkIndex: Int): Boolean = filter.forall {
    case (_, "<=", v) => chunkIndex <= v.toInt
    case (_, _, v) => docId.startsWith(v)
  }
}

object Req {
  def apply(n: JsonNode): Req = {
    val f = n.get("filter")
    Req(n.get("id").asInt(), n.get("query").asText(), n.get("mode").asText(),
      n.get("k").asInt(),
      if (f == null || f.isNull) None
      else Some((f.get("field").asText(), f.get("op").asText(),
        f.get("value").asText())),
      n.get("rerank").asBoolean(), n.get("check").asBoolean())
  }
}

/** `search`: one client in a closed loop sends the generated request
  * stream to a prebuilt collection that serves from its standing BM25
  * index. */
final class SearchWorkload(spark: SparkSession, in: String, work: String,
    report: ArrayBuffer[String]) extends Workload {
  import Collection._

  private val truth = Io.readJson(s"$in/truth.json")
  private val reqs = Io.readJsonl(s"$in/requests.jsonl").map(Req(_))
  private val warmReqs = Io.readJsonl(s"$in/warm_requests.jsonl").map(Req(_))
  // the stream's mix repeats every block, so a phase runs whole blocks:
  // one per 10 s of run time
  private val block = truth.get("block_size").asInt()
  val unitSeconds = 10.0
  private var coll: Collection = _
  private def table = coll.table
  private def index = coll.index
  private var next = 0
  private val checks = new Checks(report)
  // results of the requests marked for checking, verified after the clock
  private val toCheck = ArrayBuffer.empty[(Req, Array[Row])]

  def setup(): Map[String, Double] = {
    val (c, parts) = build(spark, s"$in/docs.jsonl", s"$work/collection")
    coll = c
    parts
  }

  def warm(): Unit = warmReqs.foreach(r =>
    SearchEngine.search(table, r.toEngine, sparseIndex = Some(index)).collect())

  def phase(tr: Tracer, seconds: Double): Phase = {
    val lat = ArrayBuffer.empty[Double]
    val labels = ArrayBuffer.empty[String]
    var attempted, failed = 0
    var offClock = 0L // the traced run's leg timings
    val t0 = System.nanoTime()
    val end = math.min(reqs.size, next + block * units(seconds))
    while (next < end) {
      val r = reqs(next)
      next += 1
      attempted += 1
      val op = s"req-${r.id}"
      try {
        val s0 = System.nanoTime()
        val df = tr.span("search.plan", "search", op) {
          val d = SearchEngine.search(table, r.toEngine, sparseIndex = Some(index))
          d.queryExecution.executedPlan
          d
        }
        val rows = tr.span("search.exec", "search", op)(df.collect())
        lat += (System.nanoTime() - s0) / 1e6
        labels += s"req-${r.id} ${r.mode} k=${r.k}" +
          r.filter.fold("")(f => s" filter=${f._1}") +
          (if (r.rerank) " rerank" else "") + s" q='${r.query}'"
        if (r.check) toCheck += ((r, rows))
        if (tr.on) {
          val l0 = System.nanoTime()
          legs(tr, r, op)
          offClock += System.nanoTime() - l0
        }
      } catch { case e: Exception => failed += 1; checks.error(op, e) }
    }
    val wall = (System.nanoTime() - t0 - offClock) / 1e9
    Phase(lat.toSeq, lat.size / wall, attempted, failed, labels.toSeq)
  }

  /** The traced run also times the request's legs and their fusion on
    * their own, off the request's latency. */
  private def legs(tr: Tracer, r: Req, op: String): Unit = {
    if (r.filter.nonEmpty) return
    val q = r.toEngine
    val dense =
      if (r.mode == "sparse") Array.empty[Row]
      else tr.span("search.dense_leg", "search", op) {
        SearchEngine.denseLeg(table, q, r.fetchK)
          .select("chunk_id", "score").collect()
      }
    val sparse =
      if (r.mode == "dense") Array.empty[Row]
      else tr.span("search.sparse_leg", "search", op) {
        SearchEngine.sparseHits(table, q, r.fetchK, Some(index))
          .select("chunk_id", "score").collect()
      }
    if (r.mode == "hybrid") tr.span("rrf.fuse", "rrf", op) {
      Rrf.fuse(local(dense), local(sparse), "chunk_id", "score", r.fetchK,
        q.rrfK).collect()
    }
  }

  private def local(rows: Array[Row]): DataFrame = {
    import spark.implicits._
    rows.toSeq.map(r => (r.getString(0), r.getDouble(1)))
      .toDF("chunk_id", "score")
  }

  // ---------------------------------------------------------- checks

  private lazy val collected: Array[(String, String, Int, String, Array[Double])] =
    table.select("chunk_id", "doc_id", "chunk_index", "content", "vector")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getSeq[Double](4).toArray))

  private lazy val byId = collected.iterator.map(c => c._1 -> c).toMap

  private def queryVector(r: Req): Array[Double] = Reference.embed(
    SearchEngine.formatQuery(r.query, "semantic", None), Dim)

  /** Brute-force dense top-n: (chunk_id, score) by score desc, id asc. */
  private def bruteDense(r: Req, n: Int): Seq[(String, Double)] = {
    val qv = queryVector(r)
    collected.iterator.filter(c => r.admits(c._2, c._3))
      .map(c => (c._1, Reference.dot(c._5, qv))).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(n)
  }

  override def verify(): Int = {
    val before = checks.failures
    toCheck.foreach { case (r, rows) =>
      val op = s"req-${r.id}"
      val ids = rows.map(_.getAs[String]("chunk_id")).toSeq
      val base = Seq(
        (ids.size <= r.k, s"${ids.size} hits for k=${r.k}"),
        (ids.distinct.size == ids.size, "duplicate hits"),
        (ids.forall(i => byId.get(i).exists(c => r.admits(c._2, c._3))),
          "a hit fails the request's filter"))
      val specific = r.mode match {
        case "dense" if !r.rerank =>
          val want = bruteDense(r, r.k)
          val qv = queryVector(r)
          val got = ids.map(i => Reference.dot(byId(i)._5, qv))
          Seq((got.size == want.size &&
            got.zip(want).forall { case (g, (_, w)) => math.abs(g - w) <= 1e-9 },
            "dense top-k differs from the brute-force top-k"))
        case "sparse" =>
          val qt = Reference.tokens(r.query).toSet
          Seq((ids.forall(i => Reference.tokens(byId(i)._4).exists(qt)),
            "a sparse hit contains no query term"))
        case "hybrid" =>
          val dense = bruteDense(r, r.fetchK).map(_._1).toSet
          val filtered = r.filterCol.fold(table)(table.filter)
          val sparse = SearchEngine.sparseHits(filtered, r.toEngine, r.fetchK,
              if (r.filter.isEmpty) Some(index) else None)
            .select("chunk_id").collect().map(_.getString(0)).toSet
          Seq((ids.forall(i => dense(i) || sparse(i)),
            "a hybrid hit is in neither leg"))
        case _ => Nil
      }
      checks(op, base ++ specific: _*)
    }
    toCheck.clear()
    checks.failures - before
  }

  def layerMetrics(tr: Tracer): Map[String, Double] = Map(
    "search.plan_ms" -> tr.medianMs("search.plan"),
    "search.exec_ms" -> tr.medianMs("search.exec"),
    "search.dense_leg_ms" -> tr.medianMs("search.dense_leg"),
    "search.sparse_leg_ms" -> tr.medianMs("search.sparse_leg"),
    "rrf.fuse_ms" -> tr.medianMs("rrf.fuse"))

  def facts: Seq[(String, String)] = Seq("docs", "requests", "share_hybrid",
    "share_dense", "share_sparse", "share_k_over_10", "share_filtered",
    "share_rerank", "share_repeat", "share_checked")
    .map(k => k -> truth.get(k).asText())
}

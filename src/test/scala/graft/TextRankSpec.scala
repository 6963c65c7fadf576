package graft

import graft.functions.TextFunctions
import graft.operators.TextRank

/** TextRank keyword extraction: scores must match a local power
  * iteration over the same graph, be bit-stable across partitionings,
  * and rank graph-central tokens above merely-frequent ones. */
class TextRankSpec extends SparkSpec {
  import spark.implicits._

  /** Independent local replay: same tokenize, same undirected
    * adjacency graph, same fixed-iteration update. */
  private def localTextRank(texts: Seq[String], minCount: Long,
                            iterations: Int): Map[String, Double] = {
    val pairs = texts.flatMap { t =>
      val toks = TextFunctions.tokenize(t)
      toks.sliding(2).collect {
        case Seq(a, b) if a != b =>
          (if (a < b) (a, b) else (b, a))
      }
    }
    val und = pairs.groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= minCount).toMap
    val adj = und.toSeq.flatMap { case ((a, b), w) =>
      Seq((a, (b, w)), (b, (a, w)))
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = adj.view.mapValues(_.map(_._2).sum).toMap
    var s = adj.keys.map(_ -> 1.0).toMap
    for (_ <- 1 to iterations) {
      s = adj.map { case (v, nbrs) =>
        // sorted fold — the operator's pinned summation order
        var acc = 0.0
        nbrs.sortBy(_._1).foreach { case (u, w) =>
          acc += (w.toDouble / deg(u)) * s(u)
        }
        v -> (1.0 - 0.85 + 0.85 * acc)
      }
    }
    s.map { case (k, v) =>
      k -> BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    }
  }

  private val texts = Seq(
    "spark shuffles data across the cluster when spark joins data",
    "the cluster joins data with spark and shuffles rows",
    "rows move across the cluster when a join shuffles data",
    "a broadcast join avoids the shuffle entirely",
    "data quality matters more than data volume")

  test("scores equal the local power iteration, at every partitioning") {
    val expect = localTextRank(texts, minCount = 1L, iterations = 8)
    for (p <- Seq(1, 5)) {
      val got = TextRank.keywords(
          texts.toDF("text").repartition(p), "text",
          minCount = 1L, iterations = 8, topK = 1000)
        .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
      assert(got == expect, s"p=$p\n got=$got\n exp=$expect")
    }
  }

  test("rank order is (score desc, token asc) starting at 1") {
    val rows = TextRank.keywords(texts.toDF("text"), "text",
      minCount = 1L, iterations = 8, topK = 10).collect()
    assert(rows.map(_.getInt(0)).toSeq == (1 to rows.length))
    val byScore = rows.map(r => (-r.getDouble(2), r.getString(1))).toSeq
    assert(byScore == byScore.sorted)
  }

  test("a hub token outranks an equally frequent leaf token") {
    // 'hub' is adjacent to many distinct tokens; 'leaf' repeats the
    // same neighbor — same frequency, different centrality
    val docs = (0 until 20).map(i => s"hub w$i") ++
      (0 until 20).map(_ => "leaf anchor")
    val got = TextRank.keywords(docs.toDF("text"), "text",
        minCount = 1L, iterations = 8, topK = 100)
      .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
    assert(got("hub") > got("leaf"), got.toString)
  }

  test("minCount prunes tail edges before the loop; empty graph is " +
      "an empty relation") {
    val got = TextRank.keywords(texts.toDF("text"), "text",
      minCount = 100L, iterations = 3, topK = 10)
    assert(got.collect().isEmpty)
  }

  // the driver fold and the distributed loop accumulate on one
  // fixed-point grid, so they are bit-identical
  test("pageRank driver fold is bit-identical to the distributed RDD " +
      "loop (order-free fixed-point accumulation)") {
    // a graph with a hub, a chain, and a triangle — uneven degrees so
    // a non-exact accumulation would diverge in the last ulps
    val edges = Seq(
      ("a", "b", 3L), ("a", "c", 1L), ("a", "d", 2L), ("a", "e", 5L),
      ("b", "c", 2L), ("c", "d", 1L), ("e", "f", 4L), ("f", "g", 1L),
      ("g", "e", 2L), ("d", "h", 7L)
    ).toDF("u", "v", "w")
    val fold = TextRank.pageRank(edges, iterations = 6)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val dist = TextRank.pageRank(edges, iterations = 6,
        driverFoldMaxEdges = -1L) // force the distributed loop
      .collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(fold.keySet == dist.keySet)
    fold.foreach { case (v, s) =>
      assert(s == dist(v), s"vertex $v: fold=$s dist=${dist(v)}")
    }
  }

  test("pageRank byte-budget gate: long-key graphs refuse the driver " +
      "fold and the RDD loop is bit-identical anyway") {
    val longA = "x" * 2000 + "a"
    val longB = "y" * 2000 + "b"
    val longC = "z" * 2000 + "c"
    val edges = Seq((longA, longB, 3L), (longB, longC, 1L),
      (longA, longC, 2L)).toDF("a", "b", "w")
    // 3 edges x ~4000 chars x 2 B >> 8 KiB budget -> RDD path; the
    // unconstrained call folds on the driver. The 1e-12 fixed-point
    // grid makes the two bit-identical.
    val viaRdd = TextRank.pageRank(edges, iterations = 3,
        driverFoldMaxBytes = 8L * 1024)
      .orderBy("id").collect().map(r => (r.getString(0), r.getDouble(1)))
    val viaFold = TextRank.pageRank(edges, iterations = 3)
      .orderBy("id").collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(viaRdd.toSeq == viaFold.toSeq && viaRdd.length == 3)
  }
}

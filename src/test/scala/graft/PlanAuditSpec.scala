package graft

import org.apache.spark.sql.functions._

/** Plan-quality audits: the physical plans the engine MUST produce for
  * 100 TB viability — filter/column pushdown into the parquet scan,
  * broadcast joins for dims, TakeOrderedAndProject for top-k (per-
  * partition heap + driver merge, never a global sort). */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q8_pushdown: filters reach the parquet scan; columns pruned") {
    val p = plan("q8_pushdown")
    assert(p.contains("PushedFilters:"), p)
    assert(p.contains("IsNotNull(l_shipdate)") || p.contains("GreaterThanOrEqual"),
      s"shipdate filter not pushed:\n$p")
    // projection pruning: the scan must NOT read all 11 lineitem columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("q2_join_agg: nation joins as broadcast, not shuffle") {
    val p = plan("q2_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q3_topk: TakeOrderedAndProject, not a global Sort+Limit") {
    val p = plan("q3_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("knn_text: dense scoring is one scan + top-k, no shuffle join") {
    val p = plan("knn_text")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("bm25 doc-weight plan partial-aggregates before the shuffle") {
    val p = graft.operators.Bm25
      .docTermWeights(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    // map-side combine: HashAggregate appears on both sides of the
    // exchange for the tf groupBy
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("Exchange hashpartitioning"), p)
  }

  test("search_hybrid_docs dense leg is TakeOrderedAndProject") {
    val p = plan("search_hybrid_docs")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("pack_sequences windows only WITHIN partitions (no global window)") {
    val p = plan("pack_sequences")
    // every Window node must carry the _p partition spec — a global
    // (partitionless) rank/sum window would be the single-partition
    // scale-killer this operator exists to avoid
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("_p"),
      s"global window in pack_sequences plan: $w"))
  }

  test("bm25 index build shuffles the token stream exactly once") {
    val idx = graft.operators.Bm25.buildIndex(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    val p = idx.docWeights.queryExecution.executedPlan.toString
    // the exploded (id, term) stream crosses one exchange (the tf
    // aggregation); df/idf derive from tf, never from a second pass
    val generateExchanges = "Exchange hashpartitioning\\(id[#\\d]*, term".r
      .findAllIn(p).size
    assert(generateExchanges <= 1,
      s"token stream shuffled $generateExchanges times:\n$p")
  }

  test("tokenizer plans as the single-pass Tokenize expression") {
    val p = graft.operators.Bm25
      .docTermFreqs(Tables.load(spark, dir, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("tokenize("), p)
    // the interpreted HOF chain must be gone from the hot path
    assert(!p.contains("regexp_extract_all"), s"HOF tokenizer back:\n$p")
  }

  test("buildIndex: doc_len projects BELOW the generator, never above") {
    // planning size(tokenize(text)) above the explode re-runs the
    // tokenizer once per exploded token — O(tokens^2) per doc
    val idx = graft.operators.Bm25.buildIndex(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    val lines = idx.docWeights.queryExecution.executedPlan.toString.linesIterator
    val above = lines.takeWhile(!_.contains("Generate explode"))
      .exists(l => l.contains("Project") && l.contains("size(tokenize"))
    assert(!above, "doc_len computed above the Generate (per-token tokenize)")
  }

  test("rrf fusion merges legs without an outer sort-merge join") {
    val p = plan("rrf_fuse")
    assert(!p.contains("SortMergeJoin"), s"outer-join fusion is back:\n$p")
    assert(!p.contains("FullOuter"), p)
  }

  test("bench_eval runs carry no full-product rank window or outer join") {
    val p = plan("bench_eval")
    assert(!p.contains("SortMergeJoin FullOuter"), p)
    // leg top-k rides the bounded TopK aggregator
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("bench_eval plans with ZERO window operators") {
    // legs rank through the bounded TopK aggregator, fusion + W6
    // collapse run inside per-query arrays, and the metric fan-out is
    // the grade-map fold — a Window anywhere means a regression to a
    // shuffling rank/cumsum formulation
    val p = plan("bench_eval")
    assert(!p.contains("Window"), s"window operator crept back in:\n$p")
  }

  test("hybrid fusion + doc collapse cost ONE exchange past the legs") {
    // the ≤2k fused hits per query merge inside a single groupBy(query_id)
    // array; a (query_id, chunk_id) re-shuffle or a second collapse
    // exchange means the array fusion regressed to the two-hop form
    val p = plan("bench_eval")
    assert("Exchange hashpartitioning\\(query_id[#\\dL]*, chunk_id".r
      .findFirstIn(p).isEmpty, s"two-key fusion exchange is back:\n$p")
  }

  test("no nested BroadcastNestedLoopJoin inside the BM25 stats broadcast") {
    // a 1-row x 1-row crossJoin materialized inside another broadcast
    // stalls ~20s on the shared broadcast thread pool (round-3 find)
    val idx = graft.operators.Bm25.buildIndex(
      Tables.load(spark, dir, "documents"), "doc_id", "text")
    val p = idx.stats.queryExecution.executedPlan.toString
    val nested = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(nested <= 1, s"nested broadcast join chain:\n$p")
  }

  test("quantized ANN paths: narrow scan into TakeOrderedAndProject") {
    for (q <- Seq("ann_pq", "ann_int8")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q has a shuffle join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q shuffles — encode/score must be narrow:\n$p")
    }
  }

  test("skew_two_phase_agg spreads the hot key over (key, salt) first") {
    val p = plan("skew_two_phase_agg")
    assert("Exchange hashpartitioning\\(event_type[#\\d]*, _salt".r
      .findFirstIn(p).isDefined,
      s"partial phase does not partition by (key, salt):\n$p")
  }

  test("failure_policy windows only WITHIN collection partitions") {
    val p = plan("failure_policy")
    val windows = p.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, p)
    windows.foreach(w => assert(w.contains("collection_id"),
      s"global window in failure_policy plan: $w"))
  }

  test("search_hyde: dense legs are TakeOrderedAndProject, no shuffle join") {
    val p = plan("search_hyde")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("dedup verify: semi-filter precedes any shingle shuffle; verify " +
      "reads the checkpointed sets") {
    // the r4 regression class: the verify re-evaluating the corpus
    // shingle build per consumer, or the shingle relation shuffling
    // BEFORE the candidate semi-join
    import spark.implicits._
    val docs = Tables.load(spark, dir, "documents")
    val pairs = (0L until 20L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val sh = graft.operators.Dedup.shingles(docs, "doc_id", "text", 3)

    // (1) the semi-join itself must broadcast the candidate ids — the
    // corpus-sized shingle side crosses NO hash exchange to be filtered
    val candIds = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    val semi = sh.join(candIds, Seq("id"), "left_semi")
    semi.collect() // let AQE finalize
    val semiPlan = semi.queryExecution.executedPlan.toString
    assert(semiPlan.contains("LeftSemi"), semiPlan)
    assert(semiPlan.contains("BroadcastHashJoin"),
      s"candidate semi-filter is not a broadcast join:\n$semiPlan")

    // (2) the real operator: the semi-filter and the set collapse run
    // inside its candidate-set checkpoint job, so audit EVERY plan the
    // call executes — each LeftSemi must be a BroadcastHashJoin building
    // the id set (BuildRight): a broadcast imposes no distribution on
    // the streamed shingle side, so the corpus relation is NEVER
    // exchanged to be filtered
    val (out, executed) = executedPlans {
      val verified = graft.operators.Dedup.ngramJaccardFrom(sh, pairs)
      verified.collect()
      verified
    }
    assertSemiFiltersBroadcast(executed)
    // ... and the verify reads that checkpoint (Scan ExistingRDD [id,
    // shingles]), never re-reading or re-tokenizing the corpus
    val p = out.queryExecution.executedPlan.toString
    assert("Scan ExistingRDD\\[id#\\d+L?,shingles#".r.findFirstIn(p).isDefined,
      s"verify sides do not read the checkpointed candidate sets:\n$p")
    assert(!p.contains("FileScan"), s"verify re-reads the corpus:\n$p")
  }

  test("minhashNearDups: the verify semi-filters the corpus sets to the " +
      "candidate docs through a broadcast") {
    val docs = Tables.load(spark, dir, "documents")
    val (_, executed) = executedPlans {
      graft.operators.Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.2).collect()
    }
    assertSemiFiltersBroadcast(executed)
  }

  test("editDistanceNearDups plans one tokenize pass per call") {
    // the band self-join reads the signatures on both sides: built
    // from an uncheckpointed shingle relation, each side plans the
    // whole scan → tokenize → shuffle → aggregate chain, and only AQE's
    // runtime exchange reuse (which can miss) keeps it from running
    // twice. Count the passes as planned: the initial adaptive plan,
    // which an adaptive plan prints below its final plan.
    val docs = Tables.load(spark, dir, "documents")
    val (_, executed) = executedPlans {
      graft.operators.Dedup.editDistanceNearDups(docs, "doc_id", "text")
        .collect()
    }
    val planned = executed.map(_.split("== Initial Plan ==").last)
    val passes = planned.map("tokenize\\(".r.findAllIn(_).size).sum
    assert(passes == 1, s"$passes tokenize passes:\n" +
      planned.mkString("\n----\n"))
  }

  test("Prof writes each query's plan and exits 1 naming every failed " +
      "query") {
    // Prof stops its session and exits, so it runs in a child JVM
    val explainDir = java.nio.file.Files.createTempDirectory("graft-prof")
    val (code, log) = ChildJvm.run("graft.Prof", env = Map(
      "SPARK_GRAFT_SF_DIR" -> dir,
      "SPARK_GRAFT_CPUS" -> "2",
      "PROF_QUERIES" -> "bm25_topk,no_such_query",
      "PROF_EXPLAIN" -> explainDir.toString))
    assert(code == 1, log.takeRight(4000))
    assert(log.contains("no_such_query"), log.takeRight(4000))
    val plan = explainDir.resolve("bm25_topk.txt")
    assert(java.nio.file.Files.exists(plan), log.takeRight(4000))
    assert(new String(java.nio.file.Files.readAllBytes(plan), "UTF-8")
      .contains("== Physical Plan =="))
  }

  /** `body`'s value and the executed physical plans of every query it
    * runs (eager checkpoint jobs included). */
  private def executedPlans[T](body: => T): (T, Seq[String]) = {
    val run = QueryRun(spark, plans = true)(body)
    (run.value, run.plans.map(_.executedPlan.toString))
  }

  private def assertSemiFiltersBroadcast(plans: Seq[String]): Unit = {
    val semiLines = plans.flatMap(_.linesIterator.filter(_.contains("LeftSemi")))
    assert(semiLines.nonEmpty, plans.mkString("\n----\n"))
    semiLines.foreach(l => assert(
      l.contains("BroadcastHashJoin") && l.contains("BuildRight"),
      s"candidate semi-filter shuffles the shingle relation: $l\n" +
        plans.mkString("\n----\n")))
  }

  /** Every expression of `plan` and of the plans nested in it (cached
    * relations' physical plans, subqueries). */
  private def allExpressions(
      plan: org.apache.spark.sql.catalyst.plans.QueryPlan[_])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    plan.expressions ++ (plan.children ++ plan.innerChildren).flatMap {
      case q: org.apache.spark.sql.catalyst.plans.QueryPlan[_] =>
        allExpressions(q)
      case _ => Nil
    }

  test("dedup shingle plans never evaluate the tokenizer inside a " +
      "lambda") {
    // the two optimizer hazards of the shingle-set shape: an inferred
    // `size(grams) > 0` filter pushed below the projections, and the
    // set build collapsed into every seed's hash lambda — both inline
    // tokenize() into a lambda and re-run it per gram or per seed
    import graft.operators.Dedup
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    val docs = Tables.load(spark, dir, "documents")
    val evalDf = docs.filter(col("doc_id") % 50 === 0)
    val plans = Seq(
      "shingles" -> Dedup.shingles(docs, "doc_id", "text", 3),
      "shingleSets" -> Dedup.shingleSets(docs, "doc_id", "text", 3),
      "minhashNearDups" -> Dedup.minhashNearDups(docs, "doc_id", "text"),
      "decontaminateRows" -> Dedup.decontaminateRows(docs, "doc_id", "text",
        evalDf, "doc_id", "text", 8)) ++
      Seq("dedup_minhash", "dedup_ngram", "dedup_clusters",
        "dedup_keep_best", "dedup_summary", "minhash_incremental",
        "curation_pipeline").map(q => q -> SparkEntry.queries(q)(spark, dir))
    val offending = plans.filter { case (_, df) =>
      allExpressions(df.queryExecution.optimizedPlan)
        .flatMap(_.collect { case l: LambdaFunction => l })
        .exists(_.exists(_.isInstanceOf[graft.functions.Tokenize]))
    }.map(_._1)
    assert(offending.isEmpty, s"tokenize inside a lambda in: $offending")
  }

  test("curate's per-row work plans as kernels: no lambda, each kernel " +
      "once per producing node") {
    // interpreted lambdas (transform/filter/aggregate are
    // CodegenFallback) also take their whole projection out of
    // whole-stage codegen; the kernels must also not be duplicated into
    // several expressions of one node (a collapsed projection re-runs
    // them per reference). Audits every optimized plan a call runs,
    // checkpoint jobs included.
    import graft.operators.{Dedup, Knn}
    val docs = Tables.load(spark, dir, "documents")
    val evalDf = docs.filter(col("doc_id") % 50 === 0)
    val emb = Tables.load(spark, dir, "embeddings")
    val cases = Seq(
      ("minhashNearDups", Set("NGrams", "MinHashSignature"), () =>
        Dedup.minhashNearDups(docs, "doc_id", "text").collect()),
      ("decontaminateRows", Set("NGrams"), () =>
        Dedup.decontaminateRows(docs, "doc_id", "text", evalDf, "doc_id",
          "text", 8).collect()),
      ("ivfFit", Set("NearestCentroid"), () =>
        Knn.ivfFit(emb, "vec_id", "embedding", 64, 20, iters = 1)),
      ("gopher_quality", Set("GopherCounts"), () =>
        SparkEntry.queries("gopher_quality")(spark, dir).collect()))
    for ((name, kernels, run) <- cases) {
      val plans = QueryRun(spark, plans = true)(run()).plans
        .map(_.optimizedPlan)
      val lambdas = plans.flatMap(p => allExpressions(p).flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.LambdaFunction => l
      }))
      assert(lambdas.isEmpty, s"$name plans a lambda:\n" +
        plans.mkString("\n----\n"))
      val perNode = plans.flatMap(_.collect { case node =>
        node.expressions.flatMap(_.collect {
          case e if kernels(e.nodeName) => e.nodeName
        })
      }).filter(_.nonEmpty)
      assert(perNode.flatten.toSet == kernels, s"$name: $perNode")
      assert(perNode.forall(ks => ks.distinct.size == ks.size),
        s"$name evaluates a kernel twice in one node: $perNode\n" +
          plans.mkString("\n----\n"))
    }
  }

  test("an unfiltered sparse or hybrid request on a standing index runs " +
      "as one Spark job over the serving relation: no join, no broadcast, " +
      "no lambda, one sparsedot per plan") {
    import graft.operators.Bm25
    import graft.search.{Ingest, SearchEngine}
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    val table = Ingest.buildChunks(Tables.load(spark, dir, "documents"), "c1",
      "doc_id", "text", dim = 32).cache()
    val idx = Bm25.buildIndex(table, "chunk_id", "content",
      pinStats = true).pin()
    def audit(name: String, run: () => Any, jobs: Option[Int],
        prepared: Boolean): Unit = {
      // off the measured run: the first request on the table takes the
      // in-plan path, the second builds the serving relation (and, for
      // a request that can be, prepares its shape's plan)
      run(); run()
      val qr = QueryRun(spark, plans = true)(run())
      jobs.foreach(j => assert(qr.counters.jobs == j, s"$name: ${qr.counters}"))
      // a prepared request is audited through its one-node wrapper
      assert(qr.plans.exists(_.executedPlan
        .isInstanceOf[graft.plans.PreparedPlanExec]) == prepared, name)
      val executed = qr.plans.map(_.executedPlan.toString)
      assert(executed.nonEmpty &&
        executed.forall(p => !p.contains("Join") && !p.contains("BroadcastExchange")),
        s"$name:\n" + executed.mkString("\n----\n"))
      val plans = qr.plans.map(_.optimizedPlan)
      assert(plans.forall(p => allExpressions(p).forall(_.collect {
        case l: LambdaFunction => l }.isEmpty)),
        s"$name plans a lambda:\n" + plans.mkString("\n----\n"))
      // one sparse leg per request, so one kernel per plan: a filter on
      // the score pushed below the cut would inline it into a second node
      val perPlan = plans.map(p => allExpressions(p).map(_.collect {
        case e: graft.functions.SparseDot => e }.size).sum)
      assert(perPlan.contains(1) && perPlan.forall(_ <= 1),
        s"$name evaluates sparsedot $perPlan times per plan:\n" +
          plans.mkString("\n----\n"))
    }
    for (mode <- Seq("sparse", "hybrid"); rerank <- Seq(false, true)) {
      val req = SearchEngine.SearchRequest(query = "data search engine",
        searchMode = mode, k = 10, useReranker = rerank, vectorDim = 32)
      audit(s"$mode rerank=$rerank", () =>
        SearchEngine.search(table, req, sparseIndex = Some(idx)).collect(),
        Some(1), prepared = !rerank)
    }
    audit("searchTopK", () => Bm25.searchTopK(table, "chunk_id", "content",
      "data search engine", 10, index = Some(idx)).collect(), Some(1),
      prepared = false)
    assert(idx.servingsBuilt == 1)
    idx.docWeights.unpersist()
    table.unpersist()
  }

  test("a repeated request shape on a standing index is bound into its " +
      "prepared plan: one node to optimize and plan, a copy of the " +
      "prepared tree run, one Spark job") {
    import graft.operators.Bm25
    import graft.plans.{PreparedPlan, PreparedPlanExec}
    import graft.search.{Ingest, SearchEngine}
    val table = Ingest.buildChunks(Tables.load(spark, dir, "documents"), "c1",
      "doc_id", "text", dim = 32).cache()
    val idx = Bm25.buildIndex(table, "chunk_id", "content",
      pinStats = true).pin()
    for (mode <- Seq("dense", "sparse", "hybrid")) {
      val req = SearchEngine.SearchRequest(query = "", searchMode = mode,
        k = 10, vectorDim = 32)
      def run(q: String) = SearchEngine.search(table, req.copy(query = q),
        sparseIndex = Some(idx)).collect()
      // off the measured runs: the first request on the table goes
      // in-plan (the first mode's only), the first served one prepares
      // the shape's plan
      run("data"); run("search")
      val runs = Seq("engine data", "query plan").map(q =>
        QueryRun(spark, plans = true)(run(q)))
      val bound = runs.map { qr =>
        assert(qr.counters.jobs == 1, s"$mode: ${qr.counters}")
        val Seq(qe) = qr.plans
        // the optimizer and the planner saw one node, the prepared leaf
        assert(qe.optimizedPlan.isInstanceOf[PreparedPlan], qe.optimizedPlan)
        qe.executedPlan match {
          case p: PreparedPlanExec => p.plan
          case p => fail(s"$mode is not prepared:\n$p")
        }
      }
      // each request ran its own copy of the prepared tree, and both
      // copies come from one planning: their nodes link to the same
      // logical nodes, those of the request that prepared the plan
      val Seq(a, b) = bound
      assert(!a.exists(n => b.exists(_ eq n)), s"$mode shares a node")
      val (la, lb) = (a.flatMap(_.logicalLink), b.flatMap(_.logicalLink))
      assert(la.nonEmpty && la.size == lb.size &&
        la.zip(lb).forall { case (x, y) => x eq y }, s"$mode:\n$a\n$b")
    }
    assert(idx.preparedShapes == 3)
    idx.docWeights.unpersist()
    table.unpersist()
  }

  test("a filtered hybrid request on a standing index runs as two Spark " +
      "jobs over the serving relation: no exchange, join, generate or " +
      "lambda, one reweighted sparse dot") {
    import graft.operators.Bm25
    import graft.search.{Ingest, SearchEngine}
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    val chunks = Ingest.buildChunks(Tables.load(spark, dir, "documents"), "c1",
      "doc_id", "text", dim = 32)
    for (parts <- Seq(1, 2)) {
      val table = chunks.repartition(parts).cache()
      val idx = Bm25.buildIndex(table, "chunk_id", "content",
        pinStats = true).pin()
      val req = SearchEngine.SearchRequest(query = "data search engine",
        searchMode = "hybrid", k = 10, vectorDim = 32)
      def run(r: SearchEngine.SearchRequest) =
        SearchEngine.search(table, r, sparseIndex = Some(idx)).collect()
      // two warm requests build the serving relation
      run(req); run(req)
      for (filter <- Seq("chunk_index" -> "<= 0", "doc_id" -> "1*")) {
        val name = s"$parts partitions, filter $filter"
        val qr = QueryRun(spark, plans = true)(
          run(req.copy(filters = Map(filter))))
        val executed = qr.plans.map(_.executedPlan.toString)
        // the filtered stats aggregate, then the request
        assert(qr.counters.jobs == 2, s"$name: ${qr.counters}\n" +
          executed.mkString("\n----\n"))
        assert(executed.size == 2 && executed.forall(p =>
            Seq("Exchange", "Join", "Generate").forall(!p.contains(_))),
          s"$name:\n" + executed.mkString("\n----\n"))
        val plans = qr.plans.map(_.optimizedPlan)
        assert(plans.forall(p => allExpressions(p).forall(_.collect {
          case l: LambdaFunction => l }.isEmpty)),
          s"$name plans a lambda:\n" + plans.mkString("\n----\n"))
        // the request's sparse leg scores under the filtered statistics,
        // once: a filter on the score pushed below the cut would inline
        // the kernel into a second node
        val kernels = plans.flatMap(p => allExpressions(p).flatMap(_.collect {
          case e: graft.functions.ReweightedSparseDot => e.prettyName
          case e: graft.functions.SparseDot => e.prettyName }))
        assert(kernels == Seq("reweightedsparsedot"), s"$name: $kernels\n" +
          plans.mkString("\n----\n"))
      }
      assert(idx.servingsBuilt == 1)
      idx.docWeights.unpersist()
      table.unpersist()
    }
  }

  test("substring_dedup: probe side reads the cached window relation " +
      "and the duplicate semi-filter broadcasts") {
    val out = SparkEntry.queries("substring_dedup")(spark, dir)
    out.collect() // let AQE finalize
    val p = out.queryExecution.executedPlan.toString
    // the wins relation must come from its localCheckpoint (one corpus
    // tokenize — the plan reads the materialized RDD, never re-scans
    // documents), and the duplicated-window filter must broadcast the
    // small dup set rather than exchange the corpus-sized window
    // relation
    assert(!p.contains("FileScan"),
      s"window relation not checkpointed (re-tokenizes the corpus):\n$p")
    val semiLines = p.linesIterator.filter(_.contains("LeftSemi")).toSeq
    assert(semiLines.nonEmpty, p)
    semiLines.foreach(l => assert(l.contains("BroadcastHashJoin"),
      s"duplicate semi-filter shuffles the window relation: $l"))
  }

  test("bpe_encode: vocabulary joins as broadcast, not shuffle") {
    val p = plan("bpe_encode")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("bpe_encode_foreign: replay-derived vocabulary still probes as " +
      "broadcast; the corpus is never shuffle-joined") {
    val p = plan("bpe_encode_foreign")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
  }

  test("search_multi_hetero: per-collection dense legs stay " +
      "TakeOrderedAndProject; the dim guard adds no join or shuffle") {
    val p = plan("search_multi_hetero")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), s"unexpected shuffle join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("gopher_quality is map-only") {
    val p = plan("gopher_quality")
    // the final .orderBy is the dump's determinism sort; nothing before
    // it may shuffle — drop the terminal sort's exchange from the count
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    val sortExchanges = p.linesIterator
      .count(l => l.contains("Exchange rangepartitioning"))
    assert(exchanges == sortExchanges,
      s"gopher rules must not shuffle (found a hash exchange):\n$p")
  }

  test("semanticDedup pairs meet on cluster_id equi-join, never cartesian") {
    val p = graft.operators.Dedup.semanticDedup(
        Tables.load(spark, dir, "embeddings"), "vec_id", "embedding",
        Seq(Array.fill(64)(0.1), Array.fill(64)(-0.1)), threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"within-cluster pairing degenerated to all-pairs:\n$p")
    assert(p.contains("cluster_id"), p)
  }

  test("dsir_select: broadcast ratio join, TakeOrdered selection, no window") {
    val p = plan("dsir_select")
    assert(p.contains("BroadcastHashJoin"),
      s"the 64-row ratio/selection dims must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k selection must be TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("Window"),
      s"selection must not use a corpus-wide window:\n$p")
  }

  test("chunks scan prunes partitions by collection_id") {
    val tmp = java.nio.file.Files.createTempDirectory("pp").toString
    import spark.implicits._
    val chunks = graft.search.Ingest.buildChunks(
      Seq((1L, "alpha beta gamma")).toDF("doc_id", "text"), "colA",
      "doc_id", "text",
      cfg = graft.operators.Chunking.ChunkConfig(minTokens = 1), dim = 8)
      .unionByName(graft.search.Ingest.buildChunks(
        Seq((2L, "delta epsilon")).toDF("doc_id", "text"), "colB",
        "doc_id", "text",
        cfg = graft.operators.Chunking.ChunkConfig(minTokens = 1), dim = 8))
    graft.search.Ingest.writeChunks(chunks, tmp)
    val read = spark.read.parquet(tmp).filter(col("collection_id") === "colA")
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") &&
      p.contains("collection_id"), p)
    assert(read.count() == 1)
  }

  test("sample_stratified_exact never windows a whole stratum") {
    val p = plan("sample_stratified_exact")
    assert(!p.contains("Window"),
      s"whole-stratum window in the exact sampler plan:\n$p")
  }

  test("quantiles_exact has no single-partition global sort") {
    val p = plan("quantiles_exact")
    // the ONLY acceptable sort machinery is the range-partitioned
    // local sort; a partitionless Window (row_number over the whole
    // column) would be the single-task scale-killer
    assert(!p.contains("Window"), s"rank window in quantiles plan:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in quantiles plan:\n$p")
  }

  test("hard_negatives cuts with the bounded TopK aggregate, " +
      "not a per-query rank window") {
    val p = plan("hard_negatives")
    assert(!p.contains("Window"), s"rank window in hard_negatives:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TopK aggregator missing from hard_negatives plan:\n$p")
  }

  test("source_cap cuts with the bounded TopK aggregate, " +
      "not a per-source rank window") {
    val p = plan("source_cap")
    assert(!p.contains("Window"), s"rank window in source_cap:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TopK aggregator missing from source_cap plan:\n$p")
  }

  test("collocations_pmi cuts top-k with TakeOrdered, never a global " +
      "single-partition sort over the pair relation") {
    val p = plan("collocations_pmi")
    assert(p.contains("TakeOrderedAndProject"),
      s"TakeOrdered missing from collocations plan:\n$p")
  }

  test("source_terms cuts with the bounded TopK aggregate and joins " +
      "the cut back as the broadcast side") {
    val p = plan("source_terms")
    assert(!p.contains("Window"), s"rank window in source_terms:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TopK aggregator missing from source_terms plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"cut join-back is not broadcast:\n$p")
  }

  test("r8 monitor/funnel composites carry no cartesian, nested-loop, " +
      "single-partition exchange, or window") {
    // (asof_join_forward is audited in AsOfSpec — its union-WINDOW
    // plan is the documented as-of shape; source_terms has its own
    // audit — its 1-row global total legitimately single-partitions
    // after a map-side partial)
    for (n <- Seq("funnel_conversion", "q13_cohort", "embedding_drift",
        "mixture_temperature", "ngram_coverage", "interval_overlap")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"cartesian in $n:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"nested loop in $n:\n$p")
      assert(!p.contains("Exchange SinglePartition"),
        s"single-partition exchange in $n:\n$p")
      assert(!p.contains("Window"), s"window in $n:\n$p")
    }
  }

  test("contamination_bloom probes the sketch as a codegen'd " +
      "expression, before the verify join") {
    // the contaminated-id relation is PINNED inside decontaminateBloom
    // (eager localCheckpoint, so the eval-shingle cache can release),
    // which means the returned plan shows only a Scan ExistingRDD —
    // the probe-bearing plan executes DURING the call. Capture every
    // execution of the run and audit the ones carrying the probe.
    val (_, executed) = executedPlans {
      SparkEntry.queries("contamination_bloom")(spark, dir).count()
    }
    val probePlans = executed.filter(_.contains("might_contain"))
    assert(probePlans.nonEmpty,
      s"no executed plan carried the bloom probe (${executed.size} plans)")
    // the probe must sit on the train-shingle side BELOW the shingle
    // join: the first might_contain line appears deeper (more
    // indented) than the first shingle-join line
    val ok = probePlans.exists { p =>
      val lines = p.linesIterator.toSeq
      val joinDepth = lines.find(l => l.contains("Join") &&
        l.contains("shingle")).map(_.indexOf("+-")).getOrElse(-1)
      val probeDepth = lines.find(_.contains("might_contain"))
        .map(_.indexOf("+-")).getOrElse(-1)
      joinDepth >= 0 && probeDepth > joinDepth
    }
    assert(ok, s"bloom probe not below the verify join in any " +
      s"executed plan:\n${probePlans.mkString("\n====\n")}")
  }

  test("r8 second-wave queries: no cartesian product anywhere; " +
      "nested-loop joins only as bounded broadcasts") {
    // crossJoin(broadcast(<rows-bounded relation>)) legitimately plans
    // as BroadcastNestedLoopJoin: heavy_hitters (1-row totals),
    // skew_probe (1-row stats), quantiles_sampled (5-row estimates),
    // zorder_skipping (1-row count + 3-row predicates)
    val bnljOk = Set("heavy_hitters", "skew_probe", "quantiles_sampled",
      "zorder_skipping", "churn_labels", "frequent_pairs",
      "join_cardinality", "distinct_sketch")
    for (n <- Seq("heavy_hitters", "dq_expectations", "url_canonical",
        "q14_rollup", "split_grouped", "winnow_overlap",
        "dedup_incremental", "textrank_keywords", "skew_probe",
        "quantiles_sampled", "zorder_skipping", "events_anomaly",
        "sessionize_batch", "scd2_merge", "dp_counts",
        "event_transitions", "join_cardinality", "funnel_steps",
        "distinct_sketch", "histogram_equidepth", "churn_labels",
        "attribution_compare", "frequent_pairs")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"cartesian in $n:\n$p")
      if (!bnljOk(n)) assert(!p.contains("BroadcastNestedLoopJoin"),
        s"nested loop in $n:\n$p")
    }
  }

  test("single-agg-pass queries plan with ZERO joins; heavy_hitters " +
      "verifies through a broadcast semi-join") {
    for (n <- Seq("dq_expectations", "q14_rollup", "split_grouped",
        "url_canonical"))
      assert(!plan(n).contains("Join"), s"join in $n")
    val hh = plan("heavy_hitters")
    assert(hh.contains("BroadcastHashJoin") && hh.contains("LeftSemi"),
      s"candidate semi-join not broadcast in:\n$hh")
    assert(!hh.contains("windowspecdefinition"), hh)
  }

  test("winnow_overlap windows only per document; the pair join is an " +
      "equi-join on the fingerprint") {
    val p = plan("winnow_overlap")
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("id")),
      s"non-doc-partitioned window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("compactWithLayout ranks via a range exchange, never a " +
      "corpus-wide window; the only window is the bounded per-" +
      "partition offsets relation") {
    import graft.search.Ingest
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id"), col("value"), col("user_id"))
    val laid = Ingest.compactWithLayout(ev, Seq("event_id"), 8)
    val p = laid.queryExecution.executedPlan.toString
    // the range exchange itself sits behind globalRank's
    // localCheckpoint (the repartitionByRange double-evaluation
    // gotcha), so the visible plan starts at the checkpointed RDD scan
    assert(p.contains("Scan ExistingRDD"), s"rank not pinned:\n$p")
    // globalRank's offsets window runs over the P-row per-partition
    // count relation (partition-count-bounded), identifiable by its
    // _pid ordering; no window may order the event relation itself
    val winLines = p.linesIterator
      .filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("_pid")),
      s"corpus-ordered window in the layout rank:\n$p")
    // the only nested-loop is the 1-row total-count broadcast
    assert(!p.contains("CartesianProduct"), p)
  }

  test("r9 IR surface: no cartesian products; query-side relations " +
      "broadcast; spell candidates equi-join on the variant key") {
    for (q <- Seq("bm25f_topk", "search_boolean", "search_prf",
        "spell_correct", "phrase_search", "proximity_search",
        "search_snippets", "rrf_fuse_weighted")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // a sparse leg served by a standing index's forward scan carries
      // the query as a literal: no query-side relation, so no join
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastExchange") || !p.contains("Join"),
        s"$q has no broadcast:\n$p")
    }
  }

  test("r10 surface: boolean tree / weighted hybrid / d2 spell / " +
      "multi-snippets / tuned ANN are cartesian-free with broadcast " +
      "query-side relations") {
    for (q <- Seq("search_boolean_tree", "spell_correct_d2",
        "search_snippets_multi")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastExchange"), s"$q has no broadcast:\n$p")
    }
    // the weighted hybrid is served from its standing index's serving
    // relation: no query-side relation and no payload join to broadcast.
    // The relation is built on the second request for its table, so
    // the plan is taken from a second build of the query.
    plan("search_hybrid_weighted")
    val hw = plan("search_hybrid_weighted")
    assert(!hw.contains("Join") && !hw.contains("BroadcastExchange") &&
      !hw.contains("CartesianProduct") && hw.contains("sparsedot("),
      s"search_hybrid_weighted is not served join-free:\n$hw")
    // ann_tuned's FINAL plan is joinless by design: the sweep +
    // selection ran as bounded driver-side jobs, and the tuned run is
    // a probe-set-pruned scan + TakeOrderedAndProject — the probe IN
    // filter must sit in the scan stage
    val p = plan("ann_tuned")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"),
      s"ann_tuned should be joinless:\n$p")
    assert(p.contains("TakeOrderedAndProject") && p.contains(" IN ("),
      s"probe-set pruning or top-k heap missing:\n$p")
  }

  test("suggest_prefix compiles to one broadcast join PER DISTINCT " +
      "PREFIX LENGTH into the bounded TopK aggregate — no per-prefix " +
      "branches, no rank window (the bench prefixes share one length, " +
      "so ITS plan is Union-free; the general contract is one join per " +
      "length, not one per prefix — ADVICE r10 scoping)") {
    val p = plan("suggest_prefix")
    assert(!p.contains("windowspecdefinition"), s"rank window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"prefix join not broadcast:\n$p")
    // the bench query's prefixes are all length 2 → exactly one length
    // group → no Union. This pin is specific to that fixture; a
    // mixed-length prefix set legitimately unions one leg per length
    // (see the mixed-length branch-count test below).
    assert(!p.contains("Union"), s"per-prefix plan branches:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"TopK aggregate missing:\n$p")
  }

  test("r10 wave 2: cdc_apply collapses the changelog with NO per-key " +
      "window; percolate/minhash-incremental/related_docs/ann_binary " +
      "are cartesian-free; the percolator query relation broadcasts") {
    val cdc = plan("cdc_apply")
    assert(!cdc.contains("windowspecdefinition"),
      s"cdc latest-op used a window:\n$cdc")
    assert(!cdc.contains("CartesianProduct"), cdc)
    val perc = plan("percolate_match")
    assert(perc.contains("BroadcastHashJoin"),
      s"stored-query relation not broadcast:\n$perc")
    val mi = plan("minhash_incremental")
    assert(!mi.contains("CartesianProduct") &&
      !mi.contains("BroadcastNestedLoopJoin"), s"minhash_incremental:\n$mi")
    // related_docs: the only nested-loop is the declared 1-row N
    // broadcast (the corpus-count scalar); no cartesian anywhere
    val rd = plan("related_docs")
    assert(!rd.contains("CartesianProduct"), s"related_docs:\n$rd")
    // ann_binary: joinless — Hamming shortlist heap then refine heap
    val ab = plan("ann_binary")
    assert(!ab.contains("Join"), s"ann_binary should be joinless:\n$ab")
    assert(ab.contains("TakeOrderedAndProject"), ab)
    // the syntax capstone and the recency boost: cartesian-free, the
    // phrase/boolean gates broadcast, top-k through the heap
    for (q <- Seq("search_query_syntax", "search_recency_boost")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$q top-k:\n$p")
    }
    assert(plan("search_query_syntax").contains("BroadcastHashJoin"),
      "phrase/boolean gates should broadcast")
  }

  test("r11 surface: ivf_tuned's FINAL plan is joinless (probe-set-" +
      "pruned assignment scan + top-k heap, the ann_tuned discipline); " +
      "ann_index_persist serves from the restored sidecars with the " +
      "probe IN filter pruning the assignments scan, cartesian-free; " +
      "cdc_reindex collapses window-free and scores broadcast-side") {
    val iv = plan("ivf_tuned")
    assert(!iv.contains("Join"), s"ivf_tuned should be joinless:\n$iv")
    // a 1-probe pick compiles the isin to an equality filter (sf0.001
    // selects nprobe=1), a multi-probe pick to IN — either way the
    // probe filter on the assignment must sit in the scan stage under
    // the top-k heap
    assert(iv.contains("TakeOrderedAndProject") &&
      iv.linesIterator.exists(l => l.contains("Filter") &&
        l.contains("nearestcentroid(") &&
        (l.contains(" IN (") || l.contains(") = "))),
      s"probe-set pruning or top-k heap missing:\n$iv")
    val ap = plan("ann_index_persist")
    assert(!ap.contains("CartesianProduct"), ap)
    assert(ap.contains("TakeOrderedAndProject"), s"top-k heap:\n$ap")
    // the cluster_id probe filter must reach the restored assignments
    // parquet scan (cluster-partitioned pruning at scale)
    assert(ap.contains("PushedFilters: [In(cluster_id") ||
      ap.contains("In(cluster_id"), s"probe filter not pushed:\n$ap")
    val cr = plan("cdc_reindex")
    assert(!cr.contains("windowspecdefinition"),
      s"cdc_reindex latest-op used a window:\n$cr")
    assert(!cr.contains("CartesianProduct"), cr)
    assert(cr.contains("TakeOrderedAndProject"), s"top-k heap:\n$cr")
    // colbert_maxsim: ALL |q| maxes ride ONE doc-keyed aggregation
    // (map-side combined — HashAggregate on both sides of a single
    // exchange), top-k through the heap, no rank window
    val cb = plan("colbert_maxsim")
    assert(!cb.contains("CartesianProduct") &&
      !cb.contains("windowspecdefinition"), cb)
    assert(cb.contains("TakeOrderedAndProject"), s"top-k heap:\n$cb")
    // dedup_semantic_incremental: the candidate join is cluster-keyed
    // (equi-join), never a cartesian of the union
    val dsi = plan("dedup_semantic_incremental")
    assert(!dsi.contains("CartesianProduct") &&
      !dsi.contains("BroadcastNestedLoopJoin"), dsi)
  }

  test("bucketed sequences/next-event forms window by (key, bucket) " +
      "at the event level; key-only windows touch only the bucket " +
      "summary relation") {
    for (q <- Seq("event_sequences_bucketed", "churn_labels_bucketed",
        "event_transitions_bucketed")) {
      val p = plan(q)
      // churn's corpus_max crossJoin is the declared 1-row stat
      // broadcast (BNLJ BuildRight over an aggregate) — allowed;
      // cartesian products are not
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // every corpus-level window must carry the __bucket column in its
      // partition spec; windows without it are over the summary
      // relation, whose spec also orders BY __bucket — so every window
      // line must mention __bucket one way or the other
      val winLines = p.linesIterator
        .filter(_.contains("windowspecdefinition")).toSeq
      assert(winLines.nonEmpty && winLines.forall(_.contains("__bucket")),
        s"$q has a bucket-free window:\n$p")
    }
  }

  test("r11 wave 6: explain/fusion/LTR/containment/topics are " +
      "cartesian-free; min-max stats ride 1-row broadcasts; top-k " +
      "cuts stay heap-based; the topics cut is the TopK aggregate, " +
      "not a rank window") {
    for (q <- Seq("search_explain", "fuse_combsum", "search_ltr",
        "dedup_containment", "ctfidf_topics", "spell_phonetic")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    // the normalization stats of the fusion/LTR plans are declared
    // 1-row broadcast cross joins — they must broadcast, and the
    // candidate cuts must stay per-partition heaps
    for (q <- Seq("fuse_combsum", "search_ltr")) {
      val p = plan(q)
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"),
        s"$q min-max stats not broadcast:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$q top-k:\n$p")
    }
    // c-TF-IDF: the per-class cut is the bounded TopK aggregator
    val ct = plan("ctfidf_topics")
    assert(!ct.contains("windowspecdefinition"),
      s"ctfidf_topics used a rank window:\n$ct")
    assert(ct.contains("ObjectHashAggregate"),
      s"ctfidf_topics TopK aggregate missing:\n$ct")
    // phonetic spell: candidates come from ONE equi-join on the key —
    // no nested-loop anywhere (the key join hashes)
    val sp = plan("spell_phonetic")
    assert(!sp.contains("BroadcastNestedLoopJoin"),
      s"spell_phonetic nested-loop:\n$sp")
  }

  test("r11 wave 7: mutual-kNN / per-tenant ANN / IVM / index stats " +
      "are cartesian-free; the per-tenant and mutual cuts are TopK " +
      "aggregates, not rank windows; IVM maintenance never re-reads " +
      "base rows (no second documents scan on the maintained side)") {
    for (q <- Seq("knn_mutual", "ann_per_tenant", "ivm_agg",
        "index_stats")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    for (q <- Seq("knn_mutual", "ann_per_tenant")) {
      val p = plan(q)
      assert(!p.contains("windowspecdefinition"),
        s"$q used a rank window:\n$p")
    }
    // ann_per_tenant's cut is the TopK aggregate in ITS final plan;
    // knn_mutual's TopK ran inside the localCheckpoint that pins the
    // directed-list relation, so its final plan is just the bounded
    // mutual self-join (window-free either way, asserted above)
    assert(plan("ann_per_tenant").contains("ObjectHashAggregate"),
      s"ann_per_tenant TopK aggregate missing:\n${plan("ann_per_tenant")}")
  }

  test("r13 gate fusion: the query-syntax gate tree plans as ONE " +
      "positional-postings aggregate — boolean gates never plan " +
      "their own pass; searchBooleanTree fuses must+mustNot") {
    // prox query: phrases+slops+must+mustNot all fused into gateIds'
    // per-doc aggregate (__p0..) — the boolean gates' own aggregate
    // columns (__nm / __banned) must be ABSENT from the plan
    val p = plan("search_query_syntax_prox")
    assert(p.contains("__p0"), s"fused gate aggregate missing:\n$p")
    assert(!p.contains("__nm") && !p.contains("__banned"),
      s"boolean gates planned their own pass despite fusion:\n$p")
    // boolean tree (no phrases): must+mustNot fuse into ONE gate
    // aggregate carrying both verdict columns
    val bt = plan("search_boolean_tree")
    assert(bt.contains("__nm") && bt.contains("__banned"),
      s"fused boolean gate aggregate missing:\n$bt")
  }
}

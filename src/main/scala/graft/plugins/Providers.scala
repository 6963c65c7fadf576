package graft.plugins

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.Bm25

/** The plugin surface (SURVEY.md §2.10): the reference's six extension
  * points as Spark-native traits with deterministic default
  * implementations. Real models (Qwen embedders, SPLADE, cross-encoder
  * rerankers, LLM HyDE) plug in behind the same contracts without
  * touching any query plan; the defaults keep the entire engine
  * model-free and reproducible (SURVEY.md §7.4 risk 4).
  */
object Providers {

  /** Embedding provider: text column → unit-vector column.
    * Ref protocol: shared/embedding/plugin_base.py. */
  trait EmbeddingProvider extends Serializable {
    def dim: Int
    def embed(text: Column): Column
    /** Driver-side single-text embed (for query vectors). */
    def embedOne(text: String): Array[Double]
  }

  /** F3 mock embedding — the test-mode provider; bit-exact with the
    * reference (dense_search.py:19-44). */
  final case class MockEmbeddingProvider(dim: Int = 1024)
      extends EmbeddingProvider {
    override def embed(text: Column): Column =
      TextFunctions.mockEmbeddingCol(text, dim)
    override def embedOne(text: String): Array[Double] =
      TextFunctions.mockEmbeddingDouble(text, dim)
  }

  /** Sparse indexer: corpus → (id, term, weight) relation + query-side
    * weights. Ref protocol: shared/plugins/types/sparse_indexer.py. */
  trait SparseIndexer extends Serializable {
    def encodeDocuments(corpus: DataFrame, idCol: String,
                        textCol: String): DataFrame
    def encodeQuery(corpus: DataFrame, idCol: String, textCol: String,
                    query: String): DataFrame
  }

  /** BM25 indexer (A1-A3) — the default sparse plugin. */
  final case class Bm25Indexer(params: Bm25.Params = Bm25.Default)
      extends SparseIndexer {
    override def encodeDocuments(corpus: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
      Bm25.docTermWeights(corpus, idCol, textCol, params)
        .select(col("id"), col("term"), col("weight"))
    override def encodeQuery(corpus: DataFrame, idCol: String,
                             textCol: String, query: String): DataFrame =
      Bm25.queryTermWeights(Bm25.corpusStats(corpus, idCol, textCol),
        query, corpus.sparkSession)
        .withColumnRenamed("q_weight", "weight")
  }

  /** SPLADE-shaped indexer with a deterministic fake activation:
    * weight(term) = log(1 + relu(logit)) where the logit is a pure
    * hash function of the term — the F12 activation SHAPE
    * (splade_indexer.py:292-344) with max-pooling over repeated terms,
    * no model. Real SPLADE replaces only `logit`. */
  final case class SpladeLikeMockIndexer(
      hashFamily: graft.operators.Dedup.HashFamily =
        graft.operators.Dedup.HashFamily.XxHash64) extends SparseIndexer {
    private def weightCol(term: Column): Column = {
      // logit in [-1, 3): hash-derived, deterministic
      val logit = (pmod(hashFamily(0, term), lit(4096L)).cast("double") /
        lit(1024.0)) - lit(1.0)
      log1p(greatest(logit, lit(0.0))) // log(1 + relu(logit))
    }
    override def encodeDocuments(corpus: DataFrame, idCol: String,
                                 textCol: String): DataFrame =
      corpus.select(col(idCol).as("id"),
          explode(TextFunctions.tokensCol(col(textCol))).as("term"))
        // max-pool over the sequence: repeated terms keep one activation
        .groupBy("id", "term")
        .agg(max(weightCol(col("term"))).as("weight"))
        .filter(col("weight") > 0.0)
    override def encodeQuery(corpus: DataFrame, idCol: String,
                             textCol: String, query: String): DataFrame = {
      val spark = corpus.sparkSession
      import spark.implicits._
      TextFunctions.tokenize(query).distinct.toDF("term")
        .select(col("term"), weightCol(col("term")).as("weight"))
        .filter(col("weight") > 0.0)
    }
  }

  /** Cross-encoder reranker: (query, content) → relevance score.
    * Ref protocol: plugins/builtins/qwen3_reranker.py. */
  trait Reranker extends Serializable {
    def score(query: String)(content: Column): Column
  }

  /** Deterministic token-overlap reranker (the W5 stand-in used by
    * SearchEngine). */
  final case class MockReranker() extends Reranker {
    override def score(query: String)(content: Column): Column = {
      val qToks = TextFunctions.tokenize(query).distinct
      if (qToks.isEmpty) lit(0.0)
      else size(array_intersect(array(qToks.map(lit): _*),
        TextFunctions.tokensCol(content))).cast("double") / qToks.size
    }
  }

  /** HyDE query expander (F14): query → hypothetical answer passage
    * for the dense leg; must fall back to the original on failure
    * (shared/llm/hyde.py:40-173). */
  trait QueryExpander extends Serializable {
    def expand(query: String): Option[String]
  }

  /** Deterministic HyDE stand-in: a fixed template (real LLMs swap in
    * behind the trait; None = failure → caller falls back). */
  final case class MockHyde() extends QueryExpander {
    override def expand(query: String): Option[String] =
      if (query == null || query.trim.isEmpty) None
      else Some(s"Hypothetical passage answering: $query. " +
        s"It discusses ${TextFunctions.tokenize(query).distinct.mkString(", ")}.")
  }

  /** Pseudo-relevance-feedback expander (VERDICT r9 #6) — the
    * STATISTICAL sibling of [[MockHyde]] behind the same hook
    * (ref search_service.py:469-498 wires HyDE as the one expansion
    * point; PRF is the expansion that needs no LLM): a BM25 first pass
    * over `corpus` keeps the top `fbDocs` documents, and the top
    * `fbTerms` expansion terms by summed doc weight (Rocchio's
    * positive centroid, original query terms excluded) are appended to
    * the query text. expand() runs two bounded Spark jobs at
    * request-build time — the moral equivalent of MockHyde's LLM call;
    * the collected relation is `fbTerms` rows. Empty/None on a blank
    * query or an empty feedback set (caller falls back, same contract
    * as HyDE failure). */
  final case class PrfExpander(
      corpus: DataFrame, idCol: String, textCol: String,
      fbDocs: Int = 10, fbTerms: Int = 5) extends QueryExpander {
    override def expand(query: String): Option[String] = {
      if (query == null || query.trim.isEmpty) return None
      val idx = Bm25.buildIndex(corpus, idCol, textCol, pinStats = true)
      val qW = Bm25.queryTermWeights(idx.stats, query, corpus.sparkSession)
      val first = idx.docWeights.join(broadcast(qW), "term")
        .groupBy("id")
        .agg(Bm25.sparseScore(col("weight") * col("q_weight"),
          col("term")).as("score"))
        .orderBy(col("score").desc, col("id"))
        .limit(fbDocs).select("id")
      val terms = idx.docWeights.join(broadcast(first), "id")
        .join(broadcast(qW.select("term")), Seq("term"), "left_anti")
        .groupBy("term").agg(round(sum("weight"), 6).as("fb_w"))
        .orderBy(col("fb_w").desc, col("term"))
        .limit(fbTerms)
        .select("term").collect().map(_.getString(0))
      if (terms.isEmpty) None
      else Some(s"$query ${terms.mkString(" ")}")
    }
  }
}

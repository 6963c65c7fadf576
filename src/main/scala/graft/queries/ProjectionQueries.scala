package graft
package queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._
import Oracle._

/** Embedding-space analytics: PCA, UMAP and t-SNE projections, region
  * selection, drift and per-dimension statistics. */
object ProjectionQueries {
  private def pcaFitFor(s: SparkSession,
                        dir: String): (Array[Double], Array[Double], Array[Double]) =
    StandingArtifacts(s, dir, "pcaFit")(
      graft.operators.Projection.fitPca(
        Tables.load(s, dir, "embeddings"), "embedding", 64,
        sampleLimit = 500, orderCol = Some("vec_id")))

  /** sha-256 over the exact 300-row sample the UMAP/t-SNE fits consume
    * (ids + raw embedding bits) — the guard that keeps a committed
    * projection golden from ever being compared against DIFFERENT
    * input: after a testdata regeneration these two queries silently
    * degrade to rows-only (golden omitted) instead of failing red. */
  private[graft] def projectionInputFingerprint(s: SparkSession,
      dir: String): String = {
    val rows = Tables.load(s, dir, "embeddings")
      .orderBy("vec_id").limit(300)
      .select(col("vec_id").cast("long"), col("embedding")).collect()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    def putLong(l: Long): Unit = {
      buf.clear(); buf.putLong(l); md.update(buf.array())
    }
    rows.foreach { r =>
      putLong(r.getLong(0))
      r.getSeq[Any](1).foreach {
        case f: Float => putLong(java.lang.Double.doubleToLongBits(f.toDouble))
        case d: Double => putLong(java.lang.Double.doubleToLongBits(d))
        case x => putLong(java.lang.Double.doubleToLongBits(x.toString.toDouble))
      }
    }
    md.digest().map("%02x".format(_)).mkString
  }

  val defs: Seq[QueryDef] = Seq(
    // ---- EMBEDDING drift: per-label centroid cosine between two
    //      snapshot halves — "did the representation of this class
    //      move". posexplode → (label, side, dim) map-side-combinable
    //      means; the centroid relation is |labels|×2×dim rows, so
    //      everything past the one explode-agg is driver-trivial ----
    QueryDef("embedding_drift", (s, dir) => {
      val em = t(s, dir, "embeddings")
        .select(col("label"), (col("vec_id") % 2).as("side"),
          posexplode(col("embedding")).as(Seq("i", "v")))
        .select(col("label"), col("side"), col("i"),
          col("v").cast("double").as("v"))
      val cent = em.groupBy("label", "side", "i").agg(avg("v").as("m"))
      val a = cent.filter(col("side") === 0)
        .select(col("label"), col("i"), col("m").as("ma"))
      val b = cent.filter(col("side") === 1)
        .select(col("label"), col("i"), col("m").as("mb"))
      a.join(b, Seq("label", "i"))
        .groupBy("label")
        .agg(sum(col("ma") * col("mb")).as("dot"),
          sqrt(sum(col("ma") * col("ma"))).as("na"),
          sqrt(sum(col("mb") * col("mb"))).as("nb"))
        .select(col("label"),
          round(col("dot") / (col("na") * col("nb")), 6).as("cosine"),
          round(lit(1) - col("dot") / (col("na") * col("nb")), 6)
            .as("drift"))
        .orderBy("label")
    },
    // centroids per (label, half); positional zip of unnest with
    // generate_subscripts; index bases differ (0 vs 1) but never
    // cross engines — i is only a within-engine join key
    Sql(
      """WITH e AS (
        |  SELECT label, vec_id % 2 AS side,
        |    unnest(embedding)::DOUBLE AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |c AS (SELECT label, side, i, avg(v) AS m FROM e GROUP BY 1, 2, 3),
        |j AS (
        |  SELECT a.label, a.m AS ma, b.m AS mb
        |  FROM c a JOIN c b ON a.label = b.label AND a.i = b.i
        |    AND a.side = 0 AND b.side = 1),
        |agg AS (
        |  SELECT label, sum(ma * mb) AS dot,
        |    sqrt(sum(ma * ma)) AS na, sqrt(sum(mb * mb)) AS nb
        |  FROM j GROUP BY 1)
        |SELECT label, round(dot / (na * nb), 6) AS cosine,
        |  round(1 - dot / (na * nb), 6) AS drift
        |FROM agg ORDER BY label""".stripMargin)),

    // ---- PCA 2-D projection of the embedding space (fit memoized per
    //      dir, shared with the oracle's component literals) ----
    QueryDef("pca_project", (s, dir) => {
      val (m, p1, p2) = pcaFitFor(s, dir)
      graft.operators.Projection.project(t(s, dir, "embeddings"),
          "vec_id", "embedding", m, p1, p2)
        .select(col("vec_id"), round(col("x"), 6).as("x"),
          round(col("y"), 6).as("y"))
        .orderBy("vec_id")
    }, Fitted { (s, dir) =>
      val (m, p1, p2) = pcaFitFor(s, dir)
      s"""WITH params AS (
         |  SELECT ${sqlDoubleList(m)} AS m,
         |    ${sqlDoubleList(p1)} AS p1,
         |    ${sqlDoubleList(p2)} AS p2),
         |proj AS (
         |  SELECT vec_id,
         |    list_inner_product(list_transform(range(1, 65),
         |      i -> CAST(embedding[i] AS DOUBLE) - m[i]), p1) AS x,
         |    list_inner_product(list_transform(range(1, 65),
         |      i -> CAST(embedding[i] AS DOUBLE) - m[i]), p2) AS y
         |  FROM embeddings, params)
         |SELECT vec_id, round(x, 6) AS x, round(y, 6) AS y
         |FROM proj ORDER BY vec_id""".stripMargin
    }),

    // ---- projection region selection (projection_service.py:656-880):
    //      resolve the points inside a 2-D viewport region back to
    //      their source rows and enrich with metadata — projection →
    //      region filter → enrichment join. The cut lines (0.1, 0.1)
    //      sit far from any projected point relative to cross-engine
    //      float noise, so the region membership is engine-stable. ----
    QueryDef("projection_select", (s, dir) => {
      val (m, p1, p2) = pcaFitFor(s, dir)
      val proj = graft.operators.Projection.project(
        t(s, dir, "embeddings"), "vec_id", "embedding", m, p1, p2)
      proj.filter(col("x") >= 0.1 && col("y") >= 0.1)
        .join(t(s, dir, "embeddings").select("vec_id", "label"), "vec_id")
        .select(col("vec_id"), round(col("x"), 6).as("x"),
          round(col("y"), 6).as("y"), col("label"))
        .orderBy("vec_id")
    }, Fitted { (s, dir) =>
      val (m, p1, p2) = pcaFitFor(s, dir)
      s"""WITH params AS (
         |  SELECT ${sqlDoubleList(m)} AS m,
         |    ${sqlDoubleList(p1)} AS p1,
         |    ${sqlDoubleList(p2)} AS p2),
         |proj AS (
         |  SELECT vec_id,
         |    list_inner_product(list_transform(range(1, 65),
         |      i -> CAST(embedding[i] AS DOUBLE) - m[i]), p1) AS x,
         |    list_inner_product(list_transform(range(1, 65),
         |      i -> CAST(embedding[i] AS DOUBLE) - m[i]), p2) AS y
         |  FROM embeddings, params)
         |SELECT p.vec_id, round(p.x, 6) AS x, round(p.y, 6) AS y,
         |  e.label
         |FROM proj p JOIN embeddings e ON e.vec_id = p.vec_id
         |WHERE p.x >= 0.1 AND p.y >= 0.1
         |ORDER BY p.vec_id""".stripMargin
    }),

    // ---- UMAP-shaped projection run (the seeded SGD fit is
    //      driver-side by the reference's own contract and has no SQL
    //      twin, so its oracle is a committed golden; determinism is
    //      pinned by UmapProjectionSpec) ----
    QueryDef("umap_project", (s, dir) => {
      graft.operators.Projection.umap2d(t(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64,
          nNeighbors = 10, sampleLimit = 300, epochs = 50)
        .select(col("vec_id"), round(col("x"), 6).as("x"),
          round(col("y"), 6).as("y"))
        .orderBy("vec_id")
    }, Golden(projectionInputFingerprint)),

    // ---- t-SNE projection run (driver-side fit per the reference's
    //      contract, no SQL twin: a committed golden; determinism — exact
    //      t-SNE with PCA init has no random draws — is pinned by
    //      TsneProjectionSpec) ----
    QueryDef("tsne_project", (s, dir) => {
      graft.operators.Projection.tsne2d(t(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64,
          perplexity = 15.0, nIter = 250, sampleLimit = 300)
        .select(col("vec_id"), round(col("x"), 6).as("x"),
          round(col("y"), 6).as("y"))
        .orderBy("vec_id")
    }, Golden(projectionInputFingerprint)),

    // ---- per-dimension embedding statistics: the feature-store
    //      monitoring primitive (and the fit input for whitening) —
    //      posexplode into (dim, v), one dims-bounded aggregate;
    //      std from the moment form so both engines compute the
    //      identical double expression ----
    QueryDef("embedding_dim_stats", (s, dir) => {
      val x = t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("dim").cast("long").as("dim"),
          col("v").cast("double").as("v"))
      // quantized-moment form (ADVICE r9): v and v² land on 1e-6/1e-12
      // integer grids, so both sums are exact BIGINTs — no float-
      // summation order dependence between partial aggregates or
      // engines; the moments derive from the identical integers
      x.withColumn("q", round(col("v") * 1e6, 0).cast("long"))
        .withColumn("q2",
          round(col("v") * col("v") * 1e12, 0).cast("long"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          round(sum("q").cast("double") / 1e6 /
            count(lit(1)).cast("double"), 6).as("mean_v"),
          round(sqrt(sum("q2").cast("double") / 1e12 /
              count(lit(1)).cast("double") -
            (sum("q").cast("double") / 1e6 /
              count(lit(1)).cast("double")) *
            (sum("q").cast("double") / 1e6 /
              count(lit(1)).cast("double"))), 6).as("std_v"),
          round(min("v"), 6).as("min_v"),
          round(max("v"), 6).as("max_v"))
        .orderBy("dim")
    },
    // identical quantized-moment form (exact BIGINT sums on the
    // 1e-6/1e-12 grids — order-independent, matching the Spark side);
    // positional zip of range(64) against the cast embedding list
    Sql(
      """WITH x AS (
        |  SELECT unnest(range(64)) AS dim,
        |    unnest(CAST(embedding AS DOUBLE[])) AS v
        |  FROM embeddings),
        |q AS (
        |  SELECT dim, v,
        |    CAST(round(v * 1e6) AS BIGINT) AS q,
        |    CAST(round(v * v * 1e12) AS BIGINT) AS q2
        |  FROM x)
        |SELECT dim, count(*) AS n,
        |  round(CAST(sum(q) AS DOUBLE) / 1e6 / count(*), 6) AS mean_v,
        |  round(sqrt(CAST(sum(q2) AS DOUBLE) / 1e12 / count(*) -
        |    (CAST(sum(q) AS DOUBLE) / 1e6 / count(*)) *
        |    (CAST(sum(q) AS DOUBLE) / 1e6 / count(*))), 6) AS std_v,
        |  round(min(v), 6) AS min_v,
        |  round(max(v), 6) AS max_v
        |FROM q GROUP BY dim
        |ORDER BY dim""".stripMargin))
  )
}

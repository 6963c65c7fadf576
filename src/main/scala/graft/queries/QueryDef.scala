package graft
package queries

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its builder over an sf dir and the DuckDB oracle
  * that checks its output (SURVEY.md §5(c)). A query and its oracle are
  * declared side by side in the query's family module.
  *
  * Conventions shared by every query/oracle pair:
  *  - identical output column names on both sides (the driver hashes by
  *    sorted column name)
  *  - deterministic total ORDER BY on output columns with a unique
  *    tie-break key
  *  - floating outputs rounded to 6 (scores/ratios) or 2-4 (money/qty)
  *    decimals in BOTH engines, computed raw and rounded only at the
  *    final projection
  */
final case class QueryDef(name: String,
                          build: (SparkSession, String) => DataFrame,
                          oracle: Oracle)

/** Where a query's oracle SQL comes from. */
sealed trait Oracle

object Oracle {
  /** SQL that depends on constants only, built when first asked for. */
  final class Sql(sql0: => String) extends Oracle {
    lazy val sql: String = sql0
  }
  object Sql {
    def apply(sql: => String): Sql = new Sql(sql)
  }

  /** SQL that embeds literals fitted from the data in the sf dir (IVF
    * centroids, PQ codebooks, PCA components). The fits are the same
    * standing artifacts the builder reads, so the two sides never fit
    * twice. */
  final case class Fitted(fit: (SparkSession, String) => String) extends Oracle

  /** A committed golden, `goldens/<sf>_<name>.csv`, written by
    * [[graft.GenGoldens]]. Its first line records the fingerprint of the
    * input the golden was fitted on; the oracle is present only while
    * `fingerprint(s, dir)` still matches it, so after a testdata
    * regeneration the query degrades to rows-only instead of failing. */
  final case class Golden(fingerprint: (SparkSession, String) => String)
    extends Oracle

  /** The oracle of another query: the two must produce identical output,
    * and sharing one oracle is the proof. The target must have an oracle
    * of its own. */
  final case class SameAs(query: String) extends Oracle
}

/** Every declared query, gathered from the family modules. */
object Registry {
  lazy val all: Seq[QueryDef] = build(Seq(
    RelationalQueries.defs, TemporalQueries.defs, SearchQueries.defs,
    RetrievalQueries.defs, HybridQueries.defs, EvaluationQueries.defs,
    AnnQueries.defs, ProjectionQueries.defs, DedupQueries.defs,
    ChunkingQueries.defs, QualityQueries.defs, TextQueries.defs,
    SamplingQueries.defs, StreamingQueries.defs, MaintenanceQueries.defs,
    SourcesQueries.defs, MultimodalQueries.defs, PersistedQueries.defs
  ).flatten)

  /** `defs` as a registry: fails on a duplicate name, and on a `SameAs`
    * whose target is missing or is itself a `SameAs`. */
  def build(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    val byName = defs.map(d => d.name -> d).toMap
    defs.foreach {
      case QueryDef(name, _, Oracle.SameAs(target)) =>
        require(byName.get(target).exists(!_.oracle.isInstanceOf[Oracle.SameAs]),
          s"$name: SameAs target $target is not a query with its own oracle")
      case _ =>
    }
    defs
  }

  /** Each query's oracle SQL for the data in `dir`. An oracle that fails
    * to build is reported and leaves only its query (and the queries
    * that share it) without an oracle; a golden whose fingerprint does
    * not match is left out silently. */
  def oracleSql(s: SparkSession, dir: String,
                defs: Seq[QueryDef] = all): Map[String, String] = {
    val own = defs.filterNot(_.oracle.isInstanceOf[Oracle.SameAs])
      .map(d => d.name -> resolve(d, s, dir)).toMap
    defs.flatMap { d =>
      val sql = d.oracle match {
        case Oracle.SameAs(target) => own(target)
        case _ => own(d.name)
      }
      sql.map(d.name -> _)
    }.toMap
  }

  private def resolve(d: QueryDef, s: SparkSession,
                      dir: String): Option[String] =
    try d.oracle match {
      case o: Oracle.Sql => Some(o.sql)
      case Oracle.Fitted(fit) => Some(fit(s, dir))
      case Oracle.Golden(fingerprint) => golden(d.name, s, dir, fingerprint)
      case Oracle.SameAs(_) => None
    } catch { case NonFatal(e) =>
      System.err.println(s"[verify] oracle ${d.name} failed: ${e.getMessage}")
      None
    }

  /** The VALUES-table oracle of a committed golden, if one exists for
    * this sf and its recorded fingerprint matches the current input. */
  private def golden(name: String, s: SparkSession, dir: String,
                     fingerprint: (SparkSession, String) => String): Option[String] = {
    val sf = new java.io.File(dir).getName
    val res = getClass.getResourceAsStream(s"/goldens/${sf}_$name.csv")
    if (res == null) return None
    val lines =
      try scala.io.Source.fromInputStream(res, "UTF-8").getLines().toVector
      finally res.close()
    if (lines.head.stripPrefix("fingerprint=") != fingerprint(s, dir)) None
    else {
      val vals = lines.tail.map { l =>
        val Array(id, x, y) = l.split(",")
        s"($id, $x, $y)"
      }.mkString(",\n    ")
      Some(s"""SELECT CAST(vec_id AS BIGINT) AS vec_id,
              |  CAST(x AS DOUBLE) AS x, CAST(y AS DOUBLE) AS y
              |FROM (VALUES
              |    $vals) AS g(vec_id, x, y)
              |ORDER BY vec_id""".stripMargin)
    }
  }
}

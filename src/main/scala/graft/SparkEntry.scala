package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** Driver contract — the declared query surface (SURVEY.md §2), one
  * entry per implemented operator, each with a DuckDB oracle. The
  * queries and their oracles are declared side by side, one
  * [[graft.queries.QueryDef]] each, in the family modules of
  * `graft.queries`; this object derives the contract from that registry.
  */
object SparkEntry {

  /** The sf dir the queries last ran against, for the nullary
    * [[oracleSql]]: fitted oracles must fit on the SAME data the dumped
    * query results came from. */
  @volatile private var lastDir: String = "/root/testdata/sf0.01"

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.all.map { d =>
      d.name -> { (s: SparkSession, dir: String) =>
        lastDir = dir
        d.build(s, dir)
      }
    }.toMap

  /** Every query's oracle SQL, fitted on the dir the queries last ran
    * against. */
  def oracleSql: Map[String, String] =
    oracleSqlFor(SparkSession.active, lastDir)

  /** Every query's oracle SQL, fitted on the data in `dir`. */
  def oracleSqlFor(s: SparkSession, dir: String): Map[String, String] =
    Registry.oracleSql(s, dir)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("rrf_fuse")(spark, "/root/testdata/sf0.001")
}

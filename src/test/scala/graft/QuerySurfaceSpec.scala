package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.queries.{Oracle, QueryDef, Registry}

/** Registry-level driver-surface discipline (VERDICT r8 item 3).
  *
  * The driver's oracle harness canonicalizes every query result with
  * pandas `sort_values` + a row hash; a raw ARRAY / MAP / STRUCT column
  * arrives as a numpy array and throws `unhashable type` — exactly how
  * `event_sequences` went red in r8 while returning correct data. The
  * rule pinned here: every `SparkEntry.queries` entry must expose only
  * scalar, sortable, deterministically-serialized columns. Operators
  * keep their typed array outputs for engine callers; serialization
  * (`array_join` / `to_json`) happens at the query surface only.
  *
  * Schema inspection needs analysis, not execution, so this walks all
  * registry entries cheaply at sf0.001. Queries whose builders run
  * eagerly (streaming harnesses) still finish fast at that scale.
  *
  * The registry itself is pinned here too: names are unique, every
  * `SameAs` oracle points at a query with an oracle of its own, and
  * every declared query has an oracle at both committed-golden scales.
  */
class QuerySurfaceSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private val one = (s: SparkSession, _: String) => s.range(1).toDF()

  private def complexCols(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] ||
        f.dataType.isInstanceOf[StructType] =>
        s"${f.name}: ${f.dataType.simpleString}"
    }.toSeq

  test("every registry query exposes only scalar sortable columns") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, build) =>
        val cols =
          try complexCols(build(spark, sfDir).schema)
          catch { case e: Throwable =>
            Seq(s"BUILD FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          }
        if (cols.isEmpty) Nil else Seq(s"$name -> ${cols.mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"\nqueries with canonicalizer-hostile columns:\n  " +
        offenders.mkString("\n  "))
  }

  test("the registry rejects a duplicate query name") {
    val d = QueryDef("dup", one, Oracle.Sql("SELECT 1"))
    val e = intercept[IllegalArgumentException](Registry.build(Seq(d, d)))
    assert(e.getMessage.contains("dup"))
  }

  test("every SameAs target is a declared query with its own oracle") {
    val byName = Registry.all.map(d => d.name -> d.oracle).toMap
    val bad = Registry.all.collect {
      case QueryDef(name, _, Oracle.SameAs(target))
          if !byName.get(target).exists(!_.isInstanceOf[Oracle.SameAs]) =>
        s"$name -> $target"
    }
    assert(bad.isEmpty, bad.mkString(", "))
    val chain = Seq(
      QueryDef("a", one, Oracle.SameAs("b")),
      QueryDef("b", one, Oracle.SameAs("c")),
      QueryDef("c", one, Oracle.Sql("SELECT 1")))
    intercept[IllegalArgumentException](Registry.build(chain))
    intercept[IllegalArgumentException](Registry.build(chain.take(1)))
  }

  test("a failing oracle is reported and leaves only its queries " +
      "without an oracle") {
    val defs = Registry.build(Seq(
      QueryDef("fits", one, Oracle.Fitted((_, _) => sys.error("no fit"))),
      QueryDef("twin", one, Oracle.SameAs("fits")),
      QueryDef("plain", one, Oracle.Sql("SELECT 1"))))
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    val got = try Registry.oracleSql(spark, sfDir, defs)
      finally System.setErr(saved)
    assert(got == Map("plain" -> "SELECT 1"))
    assert(err.toString.contains("[verify] oracle fits failed: no fit"),
      err.toString)
  }

  test("every declared query has an oracle at sf0.001 and sf0.01") {
    for (dir <- Seq(sfDir, sfDir.stripSuffix("sf0.001") + "sf0.01")) {
      val oracles = SparkEntry.oracleSqlFor(spark, dir)
      val missing = SparkEntry.queries.keySet -- oracles.keySet
      assert(missing.isEmpty && oracles.keySet == SparkEntry.queries.keySet,
        s"$dir: no oracle for ${missing.toSeq.sorted.mkString(", ")}")
    }
  }
}

package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * fails is named, with its error, in failed.json (written only when one
  * fails); the exit status does not change. A filtered run merges its
  * results into an earlier failed.json: the queries it ran drop out of
  * it or replace their entry, the others keep theirs. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query-name filter for fast local
    // iteration (the driver always passes exactly 2 args → all queries).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = GraftSession(GraftSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // a failed query is reported in the output dir, not only on stderr
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    val failedJson = Paths.get(s"$outDir/failed.json")
    // a filtered run reran only its own queries: the others' earlier
    // failures still stand
    val earlier = only.filter(_ => Files.exists(failedJson)).toSeq
      .flatMap(ran => new ObjectMapper().readValue(failedJson.toFile,
          classOf[java.util.Map[String, String]]).asScala
        .filterNot { case (name, _) => ran(name) })
    val allFailed = (earlier ++ failed).sortBy(_._1)
    if (allFailed.isEmpty) Files.deleteIfExists(failedJson)
    else Files.writeString(failedJson, obj(allFailed))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSqlFor(spark, sfDir)))
    spark.stop()
  }
}

package graft

import java.nio.file.{Files, Paths}

import graft.queries.ProjectionQueries

/** Regenerates the committed projection goldens
  * (`src/main/resources/goldens/{sf}_{umap,tsne}_project.csv`): the
  * frozen 2-D fits the `umap_project` / `tsne_project` oracles compare
  * against, each stamped with the input-sample fingerprint that gates
  * its use. Run after any INTENTIONAL change to the fits or a testdata
  * regeneration:
  *
  * {{{
  * sbt "runMain graft.GenGoldens /root/testdata/sf0.01 src/main/resources/goldens"
  * }}}
  */
object GenGoldens {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // not SPARK_GRAFT_CPUS: the committed goldens are fit at local[8]
    val spark = GraftSession(8)
    Files.createDirectories(Paths.get(outDir))
    val sf = new java.io.File(sfDir).getName
    val fp = ProjectionQueries.projectionInputFingerprint(spark, sfDir)
    for (q <- Seq("umap_project", "tsne_project")) {
      val rows = SparkEntry.queries(q)(spark, sfDir).collect()
      val body = rows.map(r =>
        s"${r.get(0)},${r.getDouble(1)},${r.getDouble(2)}").mkString("\n")
      Files.writeString(Paths.get(outDir).resolve(s"${sf}_$q.csv"),
        s"fingerprint=$fp\n$body\n")
      println(s"[goldens] wrote ${sf}_$q.csv (${rows.length} rows)")
    }
    spark.stop()
  }
}

package graft

import graft.queries.PersistedQueries

/** Cold-start serving measurement (VERDICT r13 #6): the
  * `*_index_persist` rows read back sidecars inside a WARM session —
  * a production restart also pays JVM + session + first-parquet-read
  * cost. This tool splits the pipeline across two JVMs so the serve
  * half starts genuinely cold:
  *
  *   runMain graft.ColdStart write <sfDir> <root>   # persist sidecars
  *   runMain graft.ColdStart serve <sfDir> <root>   # fresh JVM serves
  *   runMain graft.ColdStart serve-pinned <sfDir> <root>
  *   runMain graft.ColdStart serve-prewarmed <sfDir> <root>
  *
  * `serve` prints one JSON line attributing the cold path:
  * jvm_to_main (JVM+sbt launch to main entry), session_up (Spark
  * local[32] session build), first_query (scan + codegen + the
  * query, all cold), warm_query (same query again — the steady-state
  * serving floor). `serve-pinned` is the production restart recipe:
  * pin each restored sidecar (cache + count) BEFORE the first
  * request, so the first query already serves at the session-cached
  * rows' cost — the pin time is the restart's warm-up budget, paid
  * once, off every request's clock. `serve-prewarmed` adds ONE
  * throwaway query after the pin (JIT + codegen warm-up, also off the
  * request clock) and times the first REAL request — the complete
  * production restart recipe. tools/cold_start.sh shells the modes
  * and records the end-to-end wall. */
object ColdStart {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ColdStart write|serve|serve-pinned|serve-prewarmed <sfDir> <root>")
    val (mode, sfDir, root) = (args(0), args(1), args(2))
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val mainEntryMs = System.currentTimeMillis() - jvmStart
    val t0 = System.nanoTime()
    val spark = GraftSession(GraftSession.cpus(32))
    val sessionSec = (System.nanoTime() - t0) / 1e9
    mode match {
      case "write" =>
        // all serving sidecars: the four search artifacts + the
        // related-docs weighted postings + the five tuned-loop fits
        // (VERDICT r15 #7 — the restart must not re-derive any of them)
        PersistedQueries.writeServingSidecars(spark, sfDir, root)
        println(s"[coldstart] sidecars written to $root")
      case "serve" =>
        val q0 = System.nanoTime()
        val n1 = PersistedQueries.queryFromSearchSidecars(spark, sfDir, root)
          .count()
        val firstSec = (System.nanoTime() - q0) / 1e9
        val q1 = System.nanoTime()
        val n2 = PersistedQueries.queryFromSearchSidecars(spark, sfDir, root)
          .count()
        val warmSec = (System.nanoTime() - q1) / 1e9
        require(n1 == n2 && n1 > 0, s"serve mismatch: $n1 vs $n2")
        // related_docs + the ivf fit twin from READ-BACK sidecars in
        // this same fresh JVM (VERDICT r15 #7): first = cold parquet
        // read + codegen + query; warm = steady-state serve. Row
        // counts print so a run can be checked count-equal against
        // the in-session warm twins (related_docs: 1500 at sf0.1).
        val r0 = System.nanoTime()
        val nr1 = PersistedQueries.relatedFromSidecars(spark, root).count()
        val relFirstSec = (System.nanoTime() - r0) / 1e9
        val r1 = System.nanoTime()
        val nr2 = PersistedQueries.relatedFromSidecars(spark, root).count()
        val relWarmSec = (System.nanoTime() - r1) / 1e9
        require(nr1 == nr2 && nr1 > 0, s"related mismatch: $nr1 vs $nr2")
        val f0 = System.nanoTime()
        val nf1 = PersistedQueries.ivfFitQueryFromSidecars(spark, sfDir, root)
          .count()
        val fitFirstSec = (System.nanoTime() - f0) / 1e9
        val f1 = System.nanoTime()
        val nf2 = PersistedQueries.ivfFitQueryFromSidecars(spark, sfDir, root)
          .count()
        val fitWarmSec = (System.nanoTime() - f1) / 1e9
        require(nf1 == nf2 && nf1 > 0, s"fit serve mismatch: $nf1 vs $nf2")
        println(f"""[coldstart] {"jvm_to_main_sec":${mainEntryMs / 1000.0}%.2f,"session_up_sec":$sessionSec%.2f,"first_query_sec":$firstSec%.2f,"warm_query_sec":$warmSec%.2f,"rows":$n1,"related_first_sec":$relFirstSec%.2f,"related_warm_sec":$relWarmSec%.2f,"related_rows":$nr1,"fit_first_sec":$fitFirstSec%.2f,"fit_warm_sec":$fitWarmSec%.2f,"fit_rows":$nf1}""")
      case "serve-prewarmed" =>
        // the full production restart recipe: pin each sidecar, then
        // run ONE throwaway query off the request clock (JIT +
        // whole-stage-codegen warm-up — the residual serve-pinned
        // attributes); the first REAL request then lands at the warm
        // floor
        val p0 = System.nanoTime()
        // only the sidecars the capstone query reads — pinning vocab
        // would charge the warm-up budget for a relation this serving
        // path never touches (the fallback family reads it, not this)
        Seq("postings", "gatetoks", "postoks").foreach { sc =>
          val df = graft.search.Ingest.readCurrent(spark, s"$root/$sc")
            .cache()
          df.count()
        }
        val pinSec = (System.nanoTime() - p0) / 1e9
        val w0 = System.nanoTime()
        PersistedQueries.queryFromSearchSidecars(spark, sfDir, root).count()
        val prewarmSec = (System.nanoTime() - w0) / 1e9
        val q0 = System.nanoTime()
        val n1 = PersistedQueries.queryFromSearchSidecars(spark, sfDir, root)
          .count()
        val firstSec = (System.nanoTime() - q0) / 1e9
        require(n1 > 0, s"empty serve: $n1")
        println(f"""[coldstart] {"jvm_to_main_sec":${mainEntryMs / 1000.0}%.2f,"session_up_sec":$sessionSec%.2f,"pin_sec":$pinSec%.2f,"prewarm_sec":$prewarmSec%.2f,"first_request_sec":$firstSec%.2f,"rows":$n1}""")
      case "serve-pinned" =>
        val p0 = System.nanoTime()
        // only the sidecars the capstone query reads — pinning vocab
        // would charge the warm-up budget for a relation this serving
        // path never touches (the fallback family reads it, not this)
        Seq("postings", "gatetoks", "postoks").foreach { sc =>
          val df = graft.search.Ingest.readCurrent(spark, s"$root/$sc")
            .cache()
          df.count()
          // register under the path so queryFromSearchSidecars's
          // readCurrent plans hit the cache by canonical-plan identity
        }
        val pinSec = (System.nanoTime() - p0) / 1e9
        val q0 = System.nanoTime()
        val n1 = PersistedQueries.queryFromSearchSidecars(spark, sfDir, root)
          .count()
        val firstSec = (System.nanoTime() - q0) / 1e9
        val q1 = System.nanoTime()
        val n2 = PersistedQueries.queryFromSearchSidecars(spark, sfDir, root)
          .count()
        val warmSec = (System.nanoTime() - q1) / 1e9
        require(n1 == n2 && n1 > 0, s"serve mismatch: $n1 vs $n2")
        println(f"""[coldstart] {"jvm_to_main_sec":${mainEntryMs / 1000.0}%.2f,"session_up_sec":$sessionSec%.2f,"pin_sec":$pinSec%.2f,"first_query_sec":$firstSec%.2f,"warm_query_sec":$warmSec%.2f,"rows":$n1}""")
      case other => sys.error(s"unknown mode: $other")
    }
    spark.stop()
  }
}

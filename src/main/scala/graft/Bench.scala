package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max, xxhash64}

/** Benchmark main: times every SparkEntry query at the driver-supplied
  * scale factor. The last stdout line is a JSON digest of at most 1800
  * chars (`digest`); the full record, with every row's Spark counters,
  * goes only to `BENCH_LOCAL.json` (`SPARK_GRAFT_BENCH_OUT` overrides the
  * path). Every timed run goes through `QueryRun`.
  *
  * Each query runs three times BACK-TO-BACK and reports the per-query
  * MIN. Interleaved passes would not do: after hundreds of executions
  * the JVM degrades (codegen cache churn, JIT code-cache pressure), and
  * r8's interleaved passes measured the suite's head 2-4x slower than
  * the same queries alone (NOTES_r09.md). Back to back, run 1 warms the
  * query's own generated code and runs 2-3 measure it warm. A host
  * spike over all three runs shows in the calibration probes.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val suiteT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    // WALL-BUDGET GUARD: the bench runs in a bounded outer window and
    // must DEGRADE rather than time out: when the run paces past the
    // budget, rows drop from min-of-3 to min-of-2 (then min-of-1),
    // resampling stops, and the deferred retry only spends what is
    // left. The budget is this process's wall time, below the outer
    // window, which also pays sbt and JVM startup.
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .map(_.toDouble).getOrElse(2700.0)
    def elapsedSec: Double = (System.nanoTime() - suiteT0) / 1e9
    val spark = GraftSession(cpus)
    QueryRun.warmUp(spark)

    // a failed base run reports the row as -1 and lists it in `failed`
    val failed = ArrayBuffer.empty[String]
    def once(name: String): Option[QueryRun[Long]] =
      try Some(QueryRun(spark)(SparkEntry.queries(name)(spark, sfDir).count()))
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: $e")
        None
      }
    def fastest(runs: Seq[QueryRun[Long]]) = runs.minBy(_.wallSec)

    // Optional comma-separated filter for fast local A/B iteration —
    // the driver never sets it, so driver runs always time the full set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').toSet)
    // Seeded DETERMINISTIC shuffle of the run order (VERDICT r11 #2):
    // alphabetical order put whole query FAMILIES (ann_*, streaming_*)
    // inside single probe windows, so a contention window mapped to an
    // alphabet neighborhood and family-wide "regressions" were
    // indistinguishable from one bad window. The seed is fixed (and
    // recorded in the JSON), so every record — builder or driver —
    // times the same order and windows stay comparable across records,
    // while family members scatter across windows.
    val orderSeed = sys.env.get("SPARK_GRAFT_BENCH_SEED")
      .map(_.toLong).getOrElse(12L)
    val names = new scala.util.Random(orderSeed).shuffle(
      SparkEntry.queries.keys.toSeq.sorted)
      .filter(n => only.forall(_.contains(n)))

    // INTERLEAVED calibration: the probe pair runs before the first
    // query and again after every `probeEvery` queries, so each query is
    // covered by the probe window it ran inside, and a transient
    // co-tenant stall shows as an inflated window in calibration_series.
    // Every 10, not 25: r13 had a 5-row contention burst that both of
    // its enclosing probes missed. ~31 windows x ~2s of probes add ~60s
    // of wall clock, none of it counted in any query's time.
    val probeEvery = 10
    val series = ArrayBuffer.empty[(Int, Double, Double)]
    def runProbes(atIdx: Int): Unit =
      series += ((atIdx, probeSha2(spark), probeShuffle(spark)))

    // warm the probe shapes untimed first — a cold first pair (codegen +
    // JIT for sha2 / the exchange) reads ~3x its warm value and would
    // make window 0 look contended in every record; one pair is not
    // enough (JIT keeps tiering for 2-3 executions), so warm three
    (1 to 3).foreach { _ => probeSha2(spark); probeShuffle(spark) }
    // Warm the FIXTURE INPUTS untimed: cold parquet bytes (footer parse,
    // page cache) and scan codegen ran r11's window 0 at 1.38x while its
    // probe read clean, which the probes cannot adjudicate. One
    // full-column scan of every fixture table pulls the bytes into the
    // page cache and compiles a whole-stage scan per schema. (Min-of-3
    // absorbs first-touch standing builds; this warms their inputs.)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { tb =>
      try {
        val df = Tables.load(spark, sfDir, tb)
        // aggregate with MAX, not SUM: under Spark 4's default ANSI
        // mode, summing 64-bit hashes overflows LONG, and r15 found the
        // fixture warm had failed on nine of the 10 tables unnoticed.
        // max() forces the same full-column scan with no overflow.
        df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
          .agg(max("h")).collect()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] fixture warm of $tb failed: $e")
      }
    }
    runProbes(0)
    // Adaptive tail budget: any row whose warm runs spread >1.5x takes
    // two extra samples, whatever its magnitude (contention misreports
    // the most expensive rows too), under a suite-wide wall cap, so a
    // uniformly contended run degrades to plain min-of-3 rather than
    // doubling its own length.
    val ExtraWallCapSec = 90.0
    var extraWall = 0.0
    val resampled = ArrayBuffer.empty[String]
    // rows whose base runs succeeded but an OPTIONAL extra sample
    // errored: the row keeps its min over the base runs
    val extraErrored = ArrayBuffer.empty[String]
    // rows that ran fewer than three base runs under budget pressure
    // (value is still a min over the runs that did execute)
    val degraded = ArrayBuffer.empty[String]
    // budget pacing baseline: elapsed at the first query, so the fixed
    // warm-up cost (probe and fixture warm, ~1-2 min) is a constant in
    // the projection, not multiplied by n/i
    val loopT0 = System.nanoTime()
    def loopElapsed: Double = (System.nanoTime() - loopT0) / 1e9
    val results = names.zipWithIndex.map { case (n, i) =>
      if (i > 0 && i % probeEvery == 0) runProbes(i)
      // projected suite total = elapsed so far + per-row average over
      // rows FINISHED extrapolated to the remainder; only trusted once
      // 20 rows have finished (early averages are noise). min-of-2
      // under projected overrun or past 80% of budget; min-of-1 is the
      // ABSOLUTE endgame only (a first-touch row's single run reports
      // its standing build, so 1-run rows are a last resort, never a
      // pacing choice).
      val projected =
        if (i < 20) 0.0
        else elapsedSec + loopElapsed * (names.size - i).toDouble / i
      val nRuns =
        if (elapsedSec > budgetSec * 0.92) 1
        else if (projected > budgetSec * 0.95 ||
                 elapsedSec > budgetSec * 0.8) 2
        else 3
      if (nRuns < 3) degraded += n
      val ts = Seq.fill(nRuns)(once(n))
      // Resample on WARM-RUN disagreement only (runs 2-3): run 1 of a
      // row that first-touches a standing artifact is build + query by
      // design, so testing it would resample every first-touch row and
      // burn the wall cap on uncontended builds. A transient that
      // reaches runs 2-3 shows as their disagreement.
      val warm = ts.drop(1).flatten.map(_.wallSec)
      val best =
        if (ts.contains(None)) { failed += n; None }
        else if (warm.size >= 2 && warm.max > warm.min * 1.5 &&
                 extraWall < ExtraWallCapSec &&
                 elapsedSec < budgetSec * 0.8) {
          resampled += n
          val t0 = System.nanoTime()
          val extras = Seq(once(n), once(n))
          extraWall += (System.nanoTime() - t0) / 1e9
          // extras are OPTIONAL samples: an extra that errors is
          // recorded in extra_errored but the row keeps its valid
          // min over the runs that succeeded (base three + any good
          // extras). A base-run error still reports -1 above.
          if (extras.contains(None)) {
            extraErrored += n; Some(fastest(ts.flatten))
          } else Some(fastest((ts ++ extras).flatten))
        } else Some(fastest(ts.flatten))
      n -> best
    }
    runProbes(names.size)

    // PROBE-GATED DEFERRED RETRY: a contention burst longer than a row's
    // runs inflates them all alike, so no resample fires (r14:
    // related_docs 10.69 s vs 2.15). The probes see the burst: any
    // successful row whose enclosing probe pair read dirty (either
    // probe type, gate below) is re-queued once at suite end,
    // most-inflated first, reporting min(original, retries), so a
    // retry hit by a NEW burst can never raise a value. The retry phase
    // spends at most 60s, and never past the wall budget
    val RetryWallCapSec =
      math.max(0.0, math.min(60.0, budgetSec * 0.97 - elapsedSec))
    // Headline calibration fields keep their names for cross-round
    // normalization but are the series MEDIAN from r11 on — a point
    // probe reports whatever instant it sampled; the median of ~11
    // windows reports the run's typical host condition, which is what
    // normalization wants. Per-window values live in calibration_series.
    val calibration = median(series.map(_._2).toSeq)
    val calShuffle = median(series.map(_._3).toSeq)
    // Dirty-window gate: 1.5x max(run median, clean floor). The run's
    // own median alone is inflated on a uniformly contended run (r15:
    // 2.71 vs 1.32-1.46 clean). The floors are the r12-r14 records'
    // clean calibrations (sha2 1.3-1.5, shuffle ~0.5-0.55), at every
    // core count: the r16 8-core probes read the same ~1.4 s sha2 band
    // as at 32 cores.
    val FloorSha = 1.4
    val FloorShf = 0.55
    val gateSha = math.max(calibration, FloorSha) * 1.5
    val gateShf = math.max(calShuffle, FloorShf) * 1.5
    def probeDirty(e: (Int, Double, Double)): Boolean =
      e._2 > gateSha || e._3 > gateShf
    def windowDirty(i: Int): Boolean = {
      val wi = i / probeEvery
      // probes bracket query i at series indices wi and wi+1 (the
      // final probe closes the last window); a short suite under
      // SPARK_GRAFT_BENCH_ONLY may have fewer entries — guard both
      probeDirty(series(math.min(wi, series.size - 1))) ||
        probeDirty(series(math.min(wi + 1, series.size - 1)))
    }
    var retryWall = 0.0
    val retried = ArrayBuffer.empty[String]
    val retriedRuns = results.zipWithIndex
      .collect { case ((n, Some(r)), i) if windowDirty(i) => (n, r) }
      .sortBy { case (_, r) => -r.wallSec }
      .flatMap { case (n, r) =>
        if (retryWall >= RetryWallCapSec) None
        else {
          val t0 = System.nanoTime()
          val rs = Seq(once(n), once(n)).flatten
          retryWall += (System.nanoTime() - t0) / 1e9
          retried += n
          // retries are opportunistic: if both error, keep the original
          if (rs.isEmpty) None else Some(n -> fastest(r +: rs))
        }
      }.toMap
    val finalRuns = results.map { case (n, r) =>
      n -> retriedRuns.get(n).orElse(r)
    }
    val finalResults = finalRuns.map { case (n, r) => n -> r.fold(-1.0)(_.wallSec) }

    val qs = finalResults.map { case (k, v) => quote(k) + ":" + v }
      .mkString("{", ",", "}")
    // the Spark counters of the run each row reports
    val counters = finalRuns.collect { case (k, Some(r)) =>
      quote(k) + ":" + r.counters.json
    }.mkString("{", ",", "}")
    val total = finalResults.map(_._2).filter(_ >= 0).sum
    // Probe timeline: entry k is the probe pair run just before query
    // index `at` (the last entry, at = suite size, closes the final
    // window). Query i ran between the entries bracketing i, so a
    // contended window is attributable to exactly the queries inside it.
    val seriesJson = series.map { case (at, s, sh) =>
      s"""{"at":$at,"sha2":$s,"shuffle":$sh}"""
    }.mkString("[", ",", "]")
    // methodology marker (ADVICE r13): records cut under different
    // measurement rules must not be compared row-to-row as if the
    // rules were constant — r13 moved tuned-loop sweeps off the clock
    // and resampled sub-second noisy rows; r14 resamples ANY noisy row
    // under a wall cap and densifies probes to every 10. The field
    // names the rule set; `resampled` lists the rows whose value is a
    // min-of-5 so cross-record row comparisons can see it.
    // r14.1 = the warm-run-only resample trigger (r14 proper tested
    // spread across all three runs, which tripped on every
    // first-touch standing build)
    // r15 = r14.1 + probe-gated deferred retry (rows inside a dirty
    // probe window re-queued once at suite end, min(original, retry),
    // listed in `retried`) + fixture warm actually running (the ANSI
    // overflow fix) + optional-extra errors no longer discarding a
    // valid min-of-3 (listed in `extra_errored`)
    // r16 = r15 + wall-budget guard (rows degrade to min-of-2/1 under
    // budget pressure, listed in `degraded`; resample/retry stop first)
    // + retry gate on max(run median, absolute clean floor) instead of
    // the self-referential run median
    // r17 = r16 with the clean floors unscaled at every core count; the
    // full record (per-row counters, `failed`) goes only to the file
    val methodology = "r17"
    def list(xs: Seq[String]) = xs.map(quote).mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"counters":$counters,"failed":${list(failed.toSeq)},"sf":"$sfDir","calibration_sha2m_sec":$calibration,"calibration_shuffle_sec":$calShuffle,"calibration_series":$seriesJson,"probe_every":$probeEvery,"order_seed":$orderSeed,"methodology":"$methodology","resampled":${list(resampled.toSeq)},"retried":${list(retried.toSeq)},"extra_errored":${list(extraErrored.toSeq)},"degraded":${list(degraded.toSeq)},"budget_sec":$budgetSec,"wall_sec":$elapsedSec}"""
    val benchPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    try java.nio.file.Files.write(benchPath,
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { // the digest below is still printed
      case NonFatal(e) =>
        System.err.println(s"[bench] could not persist $benchPath: $e")
    }
    // compact series: two parallel arrays (2-decimal), ~12 entries each —
    // enough to spot an inflated window from the stdout tail alone
    val calSeriesCompact =
      s""""cal_sha2_series":${series.map(e => f2(e._2)).mkString("[", ",", "]")},""" +
      s""""cal_shuffle_series":${series.map(e => f2(e._3)).mkString("[", ",", "]")}"""
    val head = s""""metric":"total","value":${f2(total)},"unit":"sec","sf":"${sfDir.split('/').last}","calibration_sha2m_sec":${f2(calibration)},"calibration_shuffle_sec":${f2(calShuffle)},$calSeriesCompact,"probe_every":$probeEvery,"order_seed":$orderSeed,"methodology":"$methodology","n_resampled":${resampled.size},"n_retried":${retried.size}"""
    // the LAST stdout line: a reader of the stdout tail (2000 chars)
    // parses it as the run's record
    println(digest(head, finalResults, failed.toSeq))
    spark.stop()
  }

  /** One JSON line of at most 1800 chars: `head`'s fields, then
    * the failed names and the rows slowest first, as many of each as fit.
    * Each list stops at its first entry that does not fit, so the elided
    * rows are a true suffix of the slowest-first order (skipping only
    * the long-named ones would misrepresent which queries are slowest);
    * `n_failed` and `queries_omitted` count what is left out. The
    * field stays named "queries", the key a reader of the record expects.
    * `head` must leave room: it is never cut. */
  def digest(head: String, rows: Seq[(String, Double)],
             failed: Seq[String]): String = {
    def fitting(entries: Seq[String], room: Int): Seq[String] =
      entries.zip(entries.scanLeft(0)(_ + _.length + 1).tail)
        .takeWhile(_._2 <= room).map(_._1)
    // 80: the braces, the keys below and three counts
    val room = 1800 - head.length - 80
    val failedKept = fitting(failed.map(quote), room)
    val kept = fitting(
      rows.sortBy { case (_, v) => -v }.map { case (k, v) => quote(k) + ":" + f2(v) },
      room - failedKept.map(_.length + 1).sum)
    s"""{$head,"n_failed":${failed.size},"failed":${failedKept.mkString("[", ",", "]")},""" +
      s""""queries":${kept.mkString("{", ",", "}")},"queries_omitted":${rows.size - kept.size}}"""
  }

  // Host-speed calibration probes. Probe 1: a fixed, data-independent
  // CPU-bound workload (sha256 over 2M synthetic rows, the dominant
  // primitive of the hash-family queries). Host/VM speed varies across
  // rounds; dividing totals by this number normalizes cross-round
  // comparisons.
  def probeSha2(spark: SparkSession): Double = QueryRun(spark) {
    spark.range(2000000)
      .selectExpr("count(distinct sha2(cast(id as string), 256))").collect()
  }.wallSec

  // Probe 2, SHUFFLE-bound (r9 verdict item 1): the sha2 probe is pure
  // CPU, so host contention that hits memory bandwidth / shuffle spill
  // harder than raw compute (the profile of the tokenize-explode-
  // groupBy BM25 family) is invisible to it — a contended-run record
  // then over-penalizes exactly that family. This probe is a fixed
  // explode+groupBy (2M exploded rows through one hash exchange), the
  // same shape as Bm25.buildIndex's first stage. If cal_shuffle
  // inflates while cal_sha2 holds, the run was shuffle-contended and
  // tokenize-family numbers inherit it.
  private def probeShuffle(spark: SparkSession): Double = QueryRun(spark) {
    spark.range(200000)
      .selectExpr("explode(array(id,id+1,id+2,id+3,id+4,id+5,id+6,id+7,id+8,id+9)) t")
      .groupBy((col("t") % 65536).as("k"))
      .count().selectExpr("count(*)", "sum(count)").collect()
  }.wallSec

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  private def quote(s: String): String = "\"" + s + "\""

  private def f2(d: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
}

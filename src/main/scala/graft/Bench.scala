package graft

/** Benchmark main: times every SparkEntry query at the driver-supplied
  * scale factor and prints ONE JSON line.
  *
  * Each query runs three times BACK-TO-BACK and reports the per-query
  * MIN. Consecutive runs (not interleaved passes) are deliberate: r8's
  * interleaved forward/reverse/forward passes measured the suite's
  * alphabetical head 2-4x slower in the 201-query run than the same
  * queries isolated (A/B'd via SPARK_GRAFT_BENCH_ONLY, NOTES_r09.md) —
  * after ~hundreds of executions the JVM degrades (codegen class churn
  * through Spark's bounded codegen cache + JIT code-cache pressure), so
  * a query's pass-2/3 runs landed in a worse JVM than its pass-1 run
  * and the min never saw a warm-and-healthy execution. Back-to-back,
  * run 1 warms the query's own generated code and runs 2-3 measure it
  * warm — position-independent by construction. The residual risk (a
  * transient host spike inflating one query's all-three runs) is
  * bounded by the calibration field, which records host speed in the
  * same JSON line. A trivial action warms the session first.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val suiteT0 = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    // WALL-BUDGET GUARD (VERDICT r15 #1b): the driver runs the bench in
    // a bounded window (r15's 8-core scaling run hit rc=124 — timed out,
    // zero scaling data). The bench must DEGRADE rather than die: when
    // the run is pacing past the budget, rows drop from min-of-3 to
    // min-of-2 (then min-of-1 in extremis), resampling stops, and the
    // deferred-retry phase only spends what is left. The budget is wall
    // time of THIS process, conservative vs the driver's outer window
    // (which also pays sbt/JVM startup).
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .map(_.toDouble).getOrElse(2700.0)
    def elapsedSec: Double = (System.nanoTime() - suiteT0) / 1e9
    val spark = GraftSession(cpus)
    // session warm-up: scan + shuffle + codegen once before timing
    spark.range(1000000).selectExpr("sum(id)").collect()

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // Host-speed calibration probes. Probe 1: a fixed, data-independent
    // CPU-bound workload (sha256 over 2M synthetic rows, the dominant
    // primitive of the hash-family queries). Host/VM speed varies across
    // rounds; dividing totals by this number normalizes cross-round
    // comparisons.
    def probeSha2(): Double = {
      val t0 = System.nanoTime()
      spark.range(2000000)
        .selectExpr("count(distinct sha2(cast(id as string), 256))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Probe 2, SHUFFLE-bound (r9 verdict item 1): the sha2 probe is pure
    // CPU, so host contention that hits memory bandwidth / shuffle spill
    // harder than raw compute (the profile of the tokenize-explode-
    // groupBy BM25 family) is invisible to it — a contended-run record
    // then over-penalizes exactly that family. This probe is a fixed
    // explode+groupBy (2M exploded rows through one hash exchange), the
    // same shape as Bm25.buildIndex's first stage. If cal_shuffle
    // inflates while cal_sha2 holds, the run was shuffle-contended and
    // tokenize-family numbers inherit it.
    def probeShuffle(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000)
        .selectExpr("explode(array(id,id+1,id+2,id+3,id+4,id+5,id+6,id+7,id+8,id+9)) t")
        .groupBy((org.apache.spark.sql.functions.col("t") % 65536).as("k"))
        .count().selectExpr("count(*)", "sum(count)").collect()
      (System.nanoTime() - t0) / 1e9
    }

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

    // INTERLEAVED calibration (r10 verdict item 1): point probes at the
    // END of the run cannot see a mid-run contention window — r8/r9/r10
    // each needed a forensic session to separate host drift from plan
    // regressions because the probes ran once after the suite. The probe
    // pair now runs BEFORE the first query and again after every
    // `probeEvery` queries, so each query is covered by the probe window
    // it ran inside; a transient co-tenant stall shows up as an inflated
    // window in calibration_series and the record adjudicates itself.
    // r14 (VERDICT r13 #3): probes densified 25 → 10. The r13 driver
    // record carried a 5-row 2-4x contention cluster at positions
    // 127-144 whose BOTH endpoint probes read clean — a burst shorter
    // than the probe spacing is invisible. ~31 windows x ~2s of
    // probes adds ~60s of wall clock, none of it counted in any
    // query's time or the suite total.
    val probeEvery = 10
    val series = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Double)]
    def runProbes(atIdx: Int): Unit =
      series += ((atIdx, probeSha2(), probeShuffle()))

    // warm the probe shapes untimed first — a cold first pair (codegen +
    // JIT for sha2 / the exchange) reads ~3x its warm value and would
    // make window 0 look contended in every record; one pair is not
    // enough (JIT keeps tiering for 2-3 executions), so warm three
    (1 to 3).foreach { _ => probeSha2(); probeShuffle() }
    // Warm the FIXTURE INPUTS untimed (VERDICT r11 #2 — the head blind
    // spot): the probes above warm the probe shapes, but the first
    // queries' parquet bytes (footer parse + page cache) and the scan
    // codegen per schema were still cold, so the driver's r11 record
    // ran window 0 at 1.38x the builder's values (ann family 4-7.6x)
    // while probe 0 read fastest-of-run — a stretch the interleaved
    // probes structurally cannot adjudicate. One full-column scan of
    // every fixture table pulls the bytes into the OS page cache and
    // compiles a representative whole-stage scan per schema, off the
    // clock. (Per-query min-of-3 already absorbs first-touch standing
    // cache builds; this covers the inputs those builds read.)
    // SPARK_GRAFT_BENCH_NOWARM=1 disables the fixture warm (A/B only —
    // the flag exists so the blind-spot experiment in NOTES_r12 is
    // reproducible; the driver never sets it)
    if (!sys.env.get("SPARK_GRAFT_BENCH_NOWARM").contains("1"))
      Seq("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings").foreach { tb =>
        try {
          val df = Tables.load(spark, sfDir, tb)
          // aggregate with MAX, not SUM: under Spark 4's default ANSI
          // mode, summing 64-bit hashes overflows LONG and the thrown
          // SparkArithmeticException was silently caught here — the
          // fixture warm ran for ~0 of the 10 tables (r15 found nine
          // ARITHMETIC_OVERFLOW task failures in this loop's stages).
          // max() forces the same full-column scan with no overflow.
          df.select(org.apache.spark.sql.functions.xxhash64(
              df.columns.toIndexedSeq
                .map(org.apache.spark.sql.functions.col): _*).as("h"))
            .agg(org.apache.spark.sql.functions.max("h")).collect()
        } catch { case scala.util.control.NonFatal(_) => () }
      }
    runProbes(0)
    // Adaptive tail budget (VERDICT r13 #3): extra samples are no
    // longer gated on sub-second magnitude — the r13 driver record
    // showed the suite's most EXPENSIVE rows get misreported by
    // contention windows (related_docs 3.65x, two rounds running)
    // while only cheap rows had resample protection. Any row whose
    // three runs spread >1.5x resamples, and the added wall-time is
    // capped suite-wide so a systematically contended run degrades to
    // plain min-of-3 rather than doubling its own length.
    val ExtraWallCapSec = 90.0
    var extraWall = 0.0
    val resampled = scala.collection.mutable.ArrayBuffer.empty[String]
    // rows whose base three runs succeeded but whose OPTIONAL extra
    // samples errored (ADVICE r14: a flake in an optional extra must
    // not discard a valid min-of-3 — the row keeps ts.min and the
    // flake is recorded here instead of overwriting the timing)
    val extraErrored = scala.collection.mutable.ArrayBuffer.empty[String]
    // rows that ran fewer than three base runs under budget pressure
    // (value is still a min over the runs that did execute)
    val degraded = scala.collection.mutable.ArrayBuffer.empty[String]
    // budget pacing baseline: elapsed at the first query, so the fixed
    // warm-up cost (probe warm + fixture warm, ~1-2 min) is a constant
    // in the projection, not multiplied by n/i — the first cut of this
    // guard projected from process start and wrongly degraded 8 rows
    // in a run that finished at 36% of budget (one of them a
    // first-touch fit row whose single run then reported the BUILD)
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
      // Resample on WARM-RUN disagreement only (runs 2-3): run 1 of
      // any row that first-touches a standing artifact is build +
      // query by design (min-of-3 exists to absorb exactly that), so
      // a spread test including run 1 would resample every
      // first-touch row and burn the wall cap on uncontended builds
      // before a genuinely contended row later in the order needs it.
      // A transient that inflates only run 1 leaves a clean min in
      // runs 2-3 (no resample needed); one that reaches runs 2-3
      // shows as their disagreement and triggers the tail.
      val warm = ts.drop(1)
      val best =
        if (ts.exists(_ < 0)) -1.0
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
          if (extras.exists(_ < 0)) { extraErrored += n; ts.min }
          else (ts ++ extras).min
        } else ts.min
      n -> best
    }
    runProbes(names.size)

    // PROBE-GATED DEFERRED RETRY (VERDICT r14 #1, methodology r15):
    // the warm-run resample trigger cannot catch a contention burst
    // LONGER than a row's five runs — all runs inside the window agree
    // with each other at the inflated value, so no resample fires
    // (r14 driver record: related_docs 10.69 vs 2.15 committed at
    // position 249, enclosing probes 3.56/10.02 vs 1.3 median). The
    // probes already SEE the burst; act on it: any successful row
    // whose enclosing probe pair read >1.5x the run's median
    // calibration (either probe type) is re-queued once at suite end,
    // most-inflated-first, under its own wall cap, reporting
    // min(original, retries) — a retry contaminated by a NEW burst can
    // only be ignored, never raise a value — plus a `retried` flag.
    // The retry phase spends at most 60s, and never past the wall budget
    val RetryWallCapSec =
      math.max(0.0, math.min(60.0, budgetSec * 0.97 - elapsedSec))
    val medSha = {
      val s = series.map(_._2).toSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val medShf = {
      val s = series.map(_._3).toSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Dirty-window denominator (VERDICT r15 #2): gating on the run's own
    // median is SELF-REFERENTIAL — on a uniformly contended run the
    // median itself is inflated (r15: 2.71 vs the 1.32-1.46 clean-window
    // records), so only 3 rows retried while dozens sat in bursts. The
    // denominator is now max(run median, absolute clean-window floor)
    // where the floor comes from the r12-r14 committed records' clean
    // calibrations (sha2 1.3-1.5, shuffle ~0.5-0.55): a uniformly 2x
    // contended run now retries its whole inflated tail (bounded by the
    // retry wall cap, most-inflated-first), while a clean run still
    // retries ~0. The floor scales with the core count contract: the
    // committed floors were measured at 32 cores and the probes are
    // fixed-size parallel jobs, so a low-core driver scaling run has a
    // proportionally slower clean probe — without the scale factor every
    // window of an 8-core run would read "dirty" and the retry phase
    // would burn its cap re-measuring clean rows.
    val coreScale = 32.0 / math.max(1, cpus)
    val FloorSha = 1.4 * coreScale
    val FloorShf = 0.55 * coreScale
    val gateSha = math.max(medSha, FloorSha) * 1.5
    val gateShf = math.max(medShf, FloorShf) * 1.5
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
    val retried = scala.collection.mutable.ArrayBuffer.empty[String]
    val retriedValues = results.zipWithIndex
      .collect { case ((n, v), i) if v >= 0 && windowDirty(i) => (n, v) }
      .sortBy { case (_, v) => -v }
      .flatMap { case (n, v) =>
        if (retryWall >= RetryWallCapSec) None
        else {
          val t0 = System.nanoTime()
          val rs = Seq(once(n), once(n)).filter(_ >= 0)
          retryWall += (System.nanoTime() - t0) / 1e9
          retried += n
          // retries are opportunistic: if both error, keep the original
          if (rs.isEmpty) None else Some(n -> math.min(v, rs.min))
        }
      }.toMap
    val finalResults = results.map { case (n, v) =>
      n -> retriedValues.getOrElse(n, v)
    }

    // Headline calibration fields keep their names for cross-round
    // normalization but are the series MEDIAN from r11 on — a point
    // probe reports whatever instant it sampled; the median of ~11
    // windows reports the run's typical host condition, which is what
    // normalization wants. Per-window values live in calibration_series.
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }
    val calibration = median(series.map(_._2).toSeq)
    val calShuffle = median(series.map(_._3).toSeq)

    val qs = finalResults.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = finalResults.map(_._2).filter(_ >= 0).sum
    // Probe timeline: entry k is the probe pair run just before query
    // index `at` (the last entry, at = suite size, closes the final
    // window). Query i ran between the entries bracketing i, so a
    // contended window is attributable to exactly the queries inside it.
    val seriesJson = series.map { case (at, s, sh) =>
      s"""{"at":$at,"sha2":$s,"shuffle":$sh}"""
    }.mkString("[", ",", "]")
    // Full-precision record. From r16 on this is the FINAL stdout line
    // (VERDICT r15 #1a): the driver has been unable to parse any bench
    // record since r12 (`parsed: null`, PERF.per_query empty) because
    // the compact 1400-char line elides most queries
    // (`queries_omitted: 275` at r15) — per-query judging then requires
    // archaeology on BENCH_LOCAL.json. The compact line still prints
    // FIRST (it serves the stdout-tail eyeball channel), the full
    // single-line record prints last, and BENCH_LOCAL.json keeps the
    // same full record as the file-channel backup.
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
    // the self-referential run median + full record as the final line
    val methodology = "r16"
    val resampledJson = resampled.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val retriedJson = retried.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val extraErroredJson = extraErrored.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val degradedJson = degraded.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","calibration_sha2m_sec":$calibration,"calibration_shuffle_sec":$calShuffle,"calibration_series":$seriesJson,"probe_every":$probeEvery,"order_seed":$orderSeed,"methodology":"$methodology","resampled":$resampledJson,"retried":$retriedJson,"extra_errored":$extraErroredJson,"degraded":$degradedJson,"budget_sec":$budgetSec,"wall_sec":$elapsedSec}"""
    // Compact line (printed FIRST, ahead of the full record): a ~1400
    // char slowest-first digest for reading the run from a truncated
    // stdout tail. Bounded by CONSTRUCTION: slowest queries first, stop
    // when the serialized line would exceed the budget, count the
    // elision. The authoritative record is the full line below it.
    def f2(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val sfName = sfDir.split('/').last
    // compact series: two parallel arrays (2-decimal), ~12 entries each —
    // enough to spot an inflated window from the stdout tail alone
    val calSeriesCompact =
      s""""cal_sha2_series":${series.map(e => f2(e._2)).mkString("[", ",", "]")},""" +
      s""""cal_shuffle_series":${series.map(e => f2(e._3)).mkString("[", ",", "]")}"""
    val prefix = s"""{"metric":"total","value":${f2(total)},"unit":"sec","sf":"$sfName","calibration_sha2m_sec":${f2(calibration)},"calibration_shuffle_sec":${f2(calShuffle)},$calSeriesCompact,"probe_every":$probeEvery,"order_seed":$orderSeed,"methodology":"$methodology","n_resampled":${resampled.size},"n_retried":${retried.size},"""
    val budget = 1400 - prefix.length - 60 // 60: closing + omitted field
    val sortedDesc = finalResults.sortBy { case (_, v) => -v }
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = 0
    var budgetFull = false
    sortedDesc.foreach { case (k, v) =>
      val entry = "\"" + k + "\":" + f2(v)
      // stop at the FIRST entry that does not fit, so the elision is a
      // true suffix of the slowest-first order — skipping just the
      // long-named ones would misrepresent which queries are slowest
      if (!budgetFull && used + entry.length + 1 <= budget) {
        kept += entry; used += entry.length + 1
      } else budgetFull = true
    }
    val omitted = finalResults.size - kept.size
    // field stays named "queries" (the driver contract's key); the
    // subset is the slowest-first prefix, with the elision counted
    println(prefix +
      s""""queries":${kept.mkString("{", ",", "}")},"queries_omitted":$omitted}""")
    // Persist the full-precision record to a file in the repo so nothing
    // ever has to recover it from a truncated stdout tail.
    // anchor beside this class's source tree when launched from the
    // repo (sbt runs from the project root), overridable for other cwds
    val benchPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    try java.nio.file.Files.write(benchPath,
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { // stdout stays the primary channel; never mask fatal errors
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not persist $benchPath: $e")
    }
    // FINAL stdout line: the full un-truncated record (VERDICT r15 #1a —
    // the driver parses the bench from stdout; the elided compact line
    // left PERF.per_query empty since r12)
    println(full)
    spark.stop()
  }
}

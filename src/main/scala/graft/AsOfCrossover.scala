package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B harness for the two as-of implementations (the ann_recall /
  * dedup_calibration discipline applied to operator choice): times the
  * union-window form ([[graft.operators.AsOf.joinAsOf]]) against the
  * custom sorted-merge node ([[graft.plans.AsOfExec.joinAsOfExec]])
  * over synthetic frames whose TOTAL row count is fixed while the KEY
  * count shrinks — i.e. per-key timelines grow — to locate the
  * crossover where the merge's O(1)-state single pass beats the window
  * machinery. The window form pays: a union of both sides into ONE
  * sorted stream per key, the window node's running `last(ignoring
  * nulls)` frame, and a filter dropping the right rows back out. The
  * merge sorts each side separately and streams them once.
  *
  * Rows are deterministic functions of `spark.range` ids (xxhash64) —
  * re-runs are bit-identical. Usage:
  *   sbt "runMain graft.AsOfCrossover [totalRows]"
  * Prints one line per key count: keys, rows/key, window min-of-3 sec,
  * exec min-of-3 sec. Measured results are recorded in
  * [[graft.plans.AsOfJoinExec]]'s Scaladoc and NOTES_r09.md.
  */
object AsOfCrossover {
  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = GraftSession(GraftSession.cpus(32))
    spark.range(1000000).selectExpr("sum(id)").collect()

    def frames(nKeys: Long): (DataFrame, DataFrame) = {
      // ticks spread uniformly; right side unique per (key, ts) by
      // construction (distinct ids -> distinct hashes collide rarely;
      // de-dup the stragglers)
      val l = spark.range(total).select(
        col("id").as("event_id"),
        pmod(xxhash64(col("id")), lit(nKeys)).as("k"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000000000L)).as("t"))
      val r = spark.range(total).select(
        pmod(xxhash64(col("id"), lit(2)), lit(nKeys)).as("k"),
        pmod(xxhash64(col("id"), lit(3)), lit(1000000000L)).as("t"),
        col("id").as("pl"))
        .groupBy("k", "t").agg(max("pl").as("pl"))
      (l.localCheckpoint(), r.localCheckpoint()) // exclude gen cost
    }

    // the consuming action must AGGREGATE THE PAYLOAD: a bare count()
    // lets Catalyst prune the window node out of the union-window plan
    // entirely (its output would be unused), timing a plan that never
    // computes the as-of match
    def time(df: => DataFrame): Double = {
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.agg(sum("pl"), count(lit(1))).collect()
        (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }

    println(f"${"keys"}%8s ${"rows/key"}%10s ${"window_s"}%9s " +
      f"${"exec_s"}%9s  winner")
    for (nKeys <- Seq(8192L, 512L, 32L, 8L, 2L)) {
      val (l, r) = frames(nKeys)
      val w = time(graft.operators.AsOf
        .joinAsOf(l, r, Seq("k"), "t", "t", Seq("pl"))
        .withColumnRenamed("asof_pl", "pl"))
      val e = time(graft.plans.AsOfExec
        .joinAsOfExec(l, r, "k", "t", Seq("pl")))
      val winner = if (e < w) "exec" else "window"
      println(f"$nKeys%8d ${total / nKeys}%10d $w%9.3f $e%9.3f  $winner")
    }
    spark.stop()
  }
}

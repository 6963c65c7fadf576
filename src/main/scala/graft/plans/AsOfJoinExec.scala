package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Whole-operator as-of join as a CUSTOM physical node — the SURVEY §4
  * preference-(c) tier (`LogicalPlan` + `SparkStrategy` + `SparkPlan`):
  * Spark has no native as-of operator, and the built-in compositions
  * each pay something real — the inequality-join form explodes pairs,
  * the union–window form ([[graft.operators.AsOf.joinAsOf]]) pays a
  * union, a window aggregation, and a filter over the combined
  * relation. This node instead declares its needs to the planner
  * (`ClusteredDistribution` on the key, child ordering (key, ts)) so
  * EnsureRequirements inserts exactly ONE co-partitioning exchange +
  * sort per side, then streams the two sorted iterators through a
  * per-partition merge with O(1) state per key: the classic sort-merge
  * as-of.
  *
  * Semantics match [[graft.operators.AsOf.joinAsOf]] and DuckDB's
  * `ASOF LEFT JOIN`: for every left row, the right payload at the
  * greatest right ts <= left ts (equal ts INCLUSIVE) of the same key;
  * NULLs when no earlier right row exists. Contract (enforced by the
  * [[AsOfExec.joinAsOfExec]] wrapper): ts columns are LongType and
  * non-null; the right side is unique per (key, ts) — among equal
  * (key, ts) right rows the sort-order winner is otherwise
  * tie-ambiguous, exactly as in the window form.
  *
  * Scale posture: one shuffle per side (same total shuffle volume as
  * the union–window form) but NO window machinery and no union — each
  * partition is a single forward pass holding one buffered right row
  * and one remembered payload. Hot-key skew concentrates a key's
  * timeline in one task (the documented [[graft.operators.AsOf]]
  * posture; the bucketed variant spreads it when that bites).
  *
  * Measured (r9, a since-retired crossover main whose run is recorded
  * in NOTES_r09.md, 2M×2M rows, local[32],
  * min-of-3 with a payload-CONSUMING action — a bare count() lets
  * Catalyst prune the window node out of the union-window plan and
  * times a plan that never computes the match, which is how r8's
  * "window 0.30 s vs exec 0.49 s" comparison went wrong):
  *
  *   keys    rows/key   window_s   exec_s   winner
  *   8192         244      0.998    0.711   exec
  *    512        3906      0.964    0.745   exec
  *     32       62500      1.178    0.931   exec
  *      8      250000      2.225    1.755   exec
  *      2     1000000      8.970    7.195   exec
  *
  * The merge wins at EVERY key count, and the margin widens as
  * per-key timelines grow — the window form pays the union of both
  * sides into one sorted stream plus the running `last(ignoring
  * nulls)` frame, while the merge sorts each side separately and
  * streams once with O(1) state. The same holds on the real events
  * table (bench sf0.1: asof_join_exec 0.49 s vs asof_join 0.69 s,
  * same run). Both forms still serialize a hot key into one task;
  * [[graft.operators.AsOf.joinAsOfBucketed]] is the skew posture.
  * [[AsOfExec.joinAsOfForwardExec]] plans the forward direction
  * through this same node via the negated-tick rewrite.
  */
case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightPayload: Seq[Attribute]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] as [[AsOfJoinExec]]. Register per session
  * via `spark.experimental.extraStrategies` (the runtime-attach twin
  * of `SparkSessionExtensions.injectPlannerStrategy`, which
  * [[GraftExtensions]] wires for `spark.sql.extensions` users). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lts, rts, payload) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts,
        payload) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTs: Expression, rightTs: Expression,
    rightPayload: Seq[Attribute]) extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightPayload.map(_.withNullability(true))

  // ONE hash exchange per side; EnsureRequirements co-partitions the
  // pair (the SortMergeJoinExec mechanism)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)) ::
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) :: Nil

  override def outputPartitioning: Partitioning = left.outputPartitioning

  // the merge emits left rows in their sorted order — downstream sorts
  // on (key, ts) are free
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val payload = rightPayload
    val (lk, rk, lts, rts) = (leftKey, rightKey, leftTs, rightTs)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyGen = UnsafeProjection.create(Seq(lk), lOut)
      val rKeyGen = UnsafeProjection.create(Seq(rk), rOut)
      val lTsB = BindReferences.bindReference(lts, lOut)
      val rTsB = BindReferences.bindReference(rts, rOut)
      val payloadGen = UnsafeProjection.create(payload, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(
        Seq(lk.dataType))
      val nullPayload: InternalRow =
        new GenericInternalRow(payload.length) // all NULLs
      val joined = new JoinedRow
      val result = UnsafeProjection.create(outAttrs,
        lOut ++ payload.map(_.withNullability(true)))

      // one-row lookahead over the right iterator; projections reuse
      // their buffers, so anything that outlives the advance is copied
      var rHead: InternalRow = null
      var rHeadKey: UnsafeRow = null
      var rHeadTs: Long = 0L
      def advanceRight(): Unit =
        if (rIt.hasNext) {
          rHead = rIt.next()
          rHeadKey = rKeyGen(rHead).copy()
          rHeadTs = rTsB.eval(rHead).asInstanceOf[Long]
        } else { rHead = null; rHeadKey = null }
      advanceRight()

      // the remembered "latest right row at or before the cursor"
      var lastKey: UnsafeRow = null
      var lastPayload: UnsafeRow = null

      lIt.map { l =>
        val lKeyRow = lKeyGen(l)
        val lTsVal = lTsB.eval(l).asInstanceOf[Long]
        var cmp = if (rHead == null) 1 else keyOrd.compare(rHeadKey, lKeyRow)
        while (rHead != null &&
            (cmp < 0 || (cmp == 0 && rHeadTs <= lTsVal))) {
          if (cmp == 0) {
            lastKey = rHeadKey // advanceRight already copied it
            lastPayload = payloadGen(rHead).copy()
          }
          advanceRight()
          cmp = if (rHead == null) 1 else keyOrd.compare(rHeadKey, lKeyRow)
        }
        val p =
          if (lastKey != null && keyOrd.compare(lastKey, lKeyRow) == 0)
            lastPayload
          else nullPayload
        result(joined(l, p))
      }
    }
  }
}

/** DataFrame wrapper around the custom node. */
object AsOfExec {

  /** As-of join `left` to `right` on `keyCol`, matching the greatest
    * `right.tsCol <= left.tsCol` (inclusive), carrying `payloadCols`
    * from the right (NULL when no match). `tsCol` must be LongType on
    * both sides (cast timestamps to `unix_micros` first — a Catalyst
    * timestamp→long cast would silently floor to SECONDS); NULL ts
    * rows are dropped (no as-of position); `payloadCols` must not
    * collide with left column names. Registers [[AsOfJoinStrategy]]
    * on the session if absent. */
  def joinAsOfExec(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val spark = left.sparkSession
    require(left.schema(tsCol).dataType == LongType &&
        right.schema(tsCol).dataType == LongType,
      s"'$tsCol' must be LongType on both sides (cast timestamps to " +
        "unix_micros; a timestamp->long cast floors to seconds)")
    require(payloadCols.nonEmpty, "no payload columns requested")
    val collisions = payloadCols.toSet.intersect(left.columns.toSet)
    require(collisions.isEmpty,
      s"payload columns collide with left columns: $collisions — rename")
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    val l = left.filter(col(tsCol).isNotNull)
    // NULL right keys never match (equality-join semantics); NULL
    // LEFT keys flow through and keep NULL payload — the merge can
    // never buffer a null right key to pair them with
    val r = right.filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select((keyCol +: tsCol +: payloadCols).distinct.map(col): _*)
    val lPlan = l.queryExecution.analyzed
    val rPlan0 = r.queryExecution.analyzed
    // both sides may derive from the SAME base relation, sharing
    // attribute exprIds; the analyzer's relation dedup does not know
    // how to rewrite references inside a custom node, so de-conflict
    // up front with a fresh-id alias projection on the right
    val rPlan =
      if (rPlan0.outputSet.intersect(lPlan.outputSet).isEmpty) rPlan0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column '$n' in ${p.output}"))
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan,
        attr(lPlan, keyCol), attr(rPlan, keyCol),
        attr(lPlan, tsCol), attr(rPlan, tsCol),
        payloadCols.map(attr(rPlan, _))))
  }

  /** FORWARD as-of through the SAME custom node — the
    * [[graft.operators.AsOf.joinAsOfForward]] negated-tick rewrite
    * applied at this tier: backward-as-of on negated ticks IS
    * forward-as-of (first right row with `right.ts >= left.ts`, equal
    * ts inclusive) on the originals, so the physical plan, merge, and
    * contract are [[joinAsOfExec]]'s verbatim. The negation happens in
    * a projection below the node and is dropped above it; the emitted
    * `tsCol` carries the ORIGINAL ticks. */
  def joinAsOfForwardExec(left: DataFrame, right: DataFrame,
      keyCol: String, tsCol: String,
      payloadCols: Seq[String]): DataFrame = {
    require(left.schema(tsCol).dataType == LongType &&
        right.schema(tsCol).dataType == LongType,
      s"'$tsCol' must be LongType on both sides (cast timestamps to " +
        "unix_micros first)")
    require(!payloadCols.contains(tsCol),
      s"payload must not include '$tsCol' (re-emitted negated); " +
        "alias it on the right first")
    val negT = s"__neg_$tsCol"
    val l = left.withColumn(negT, -col(tsCol))
      .drop(tsCol).withColumnRenamed(negT, tsCol)
    val r = right.withColumn(negT, -col(tsCol))
      .drop(tsCol).withColumnRenamed(negT, tsCol)
    joinAsOfExec(l, r, keyCol, tsCol, payloadCols)
      .withColumn(tsCol, -col(tsCol))
  }
}

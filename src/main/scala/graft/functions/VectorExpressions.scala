package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the vector-scoring hot path.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate
  * interpreted (CodegenFallback) — fine for occasional use, but the
  * k-NN/dedup inner loop scores millions of vectors per query. These
  * expressions emit a tight primitive loop inside whole-stage codegen:
  * one pass over the two arrays, no lambda dispatch, no boxing.
  *
  * SURVEY.md §4 names exactly this as the justified custom-Expression
  * surface (W1/W2 inner loops).
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expected array<float|double> inputs, got " +
          s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }

  @inline protected final def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Java accessor snippet for codegen. */
  protected final def acc(v: String, i: String, t: DataType): String =
    if (t == FloatType) s"(double) $v.getFloat($i)" else s"$v.getDouble($i)"
}

/** Σ aᵢ·bᵢ over two float/double arrays, in double precision. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += get(a, i, lf) * get(b, i, rf); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ${acc(a, i, elemType(left))} * ${acc(b, i, elemType(right))};
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Single-pass cosine similarity; 0.0 when either norm is zero. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = get(a, i, lf); val y = get(b, i, rf)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${acc(a, i, elemType(left))};
         |  double $y = ${acc(b, i, elemType(right))};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** A query vector as an expression field: compared by value (bit for
  * bit, `java.util.Arrays.equals`), so two requests for the same vector
  * canonicalize alike, and printed as its length and hash, so a plan
  * string stays short at any dimension. */
final class QueryVector(val values: Array[Double]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case q: QueryVector => java.util.Arrays.equals(values, q.values)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(values)
  override def toString: String =
    s"${values.length} dims, hash ${Integer.toHexString(hashCode)}"
}

/** [[DotProduct]] of a float/double array with a query vector held as a
  * value field, not a literal: Σ vᵢ·qᵢ over the shorter length, from
  * 0.0 in index order, in double, so bit-identical to
  * `DotProduct(child, typedLit(q))`; null when the array is. The
  * generated code reaches the vector through a reference, so every
  * query generates the same code text, and a prepared plan takes a new
  * query by swapping this field. */
case class QueryDot(child: Expression, query: QueryVector)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expected an array<float|double> input, got ${t.simpleString}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def dot(v: ArrayData): Double = {
    val q = query.values
    val n = math.min(v.numElements(), q.length)
    var s = 0.0
    var i = 0
    while (i < n) {
      s += (if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)) * q(i)
      i += 1
    }
    s
  }

  override def nullSafeEval(v: Any): Any = dot(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("queryDot", this, classOf[QueryDot].getName)
    defineCodeGen(ctx, ev, v => s"$ref.dot($v)")
  }

  override protected def withNewChildInternal(newChild: Expression): QueryDot =
    copy(child = newChild)
}

/** A centroid matrix as an expression field: compared by value (bit
  * for bit, `java.util.Arrays.deepEquals`), so two fits with equal
  * centroids canonicalize alike, and printed as its shape, so a plan
  * string stays short at any k. */
final class CentroidMatrix(val rows: Array[Array[Double]]) extends Serializable {
  override def equals(o: Any): Boolean = o match {
    case m: CentroidMatrix => java.util.Arrays.deepEquals(
      rows.asInstanceOf[Array[AnyRef]], m.rows.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode: Int =
    java.util.Arrays.deepHashCode(rows.asInstanceOf[Array[AnyRef]])
  override def toString: String =
    s"${rows.length} centroids, hash ${Integer.toHexString(hashCode)}"
}

/** The nearest centroid of a vector: the index of the largest dot
  * product, ties to the lowest index — what
  * `-greatest(struct(dot(v, c_i), -i) ...).negi`, the k-struct form it
  * replaces, returns. Scores are [[DotProduct]]'s (Σ over the shorter
  * length, in double) and compare as Spark orders doubles
  * (`SQLOrderingUtil.compareDoubles`: NaN above every number, -0.0 equal
  * to 0.0). A null vector scores null against every centroid, so, as
  * with the struct form, it goes to centroid 0; the result is never
  * null. The k-struct form's generated code grew with k and fell off
  * whole-stage codegen near k = 200; this one is a loop at any k. */
case class NearestCentroid(child: Expression, centroids: CentroidMatrix)
    extends UnaryExpression {
  require(centroids.rows.nonEmpty, "nearest centroid of no centroids")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case t =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"expected an array<float|double> input, got ${t.simpleString}")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def assign(vec: ArrayData): Int = {
    if (vec == null) return 0
    val x = new Array[Double](vec.numElements())
    var j = 0
    while (j < x.length) {
      x(j) = if (isFloat) vec.getFloat(j).toDouble else vec.getDouble(j)
      j += 1
    }
    val rows = centroids.rows
    var best = 0
    var bestScore = dot(x, rows(0))
    var i = 1
    while (i < rows.length) {
      val s = dot(x, rows(i))
      if (SQLOrderingUtil.compareDoubles(s, bestScore) > 0) {
        best = i; bestScore = s
      }
      i += 1
    }
    best
  }

  private def dot(x: Array[Double], c: Array[Double]): Double = {
    val n = math.min(x.length, c.length)
    var s = 0.0
    var j = 0
    while (j < n) { s += x(j) * c(j); j += 1 }
    s
  }

  override def eval(input: InternalRow): Any =
    assign(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearest", this, classOf[NearestCentroid].getName)
    KernelCodegen.callNullTolerant(ctx, ev, child, ref, "assign", dataType)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NearestCentroid = copy(child = newChild)
}

/** A query's term frequencies as an expression field: compared by value,
  * so two requests for the same terms canonicalize alike, and printed as
  * a count and hash, so a plan string stays short for any query. */
final class QueryTerms(val tf: Map[String, Double]) extends Serializable {
  @transient private lazy val lookup: java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = new java.util.HashMap[UTF8String, java.lang.Double]()
    tf.foreach { case (t, n) => m.put(UTF8String.fromString(t), n) }
    m
  }

  /** The query's tf of `term`, or null when it is not a query term. */
  def get(term: UTF8String): java.lang.Double = lookup.get(term)

  override def equals(o: Any): Boolean = o match {
    case q: QueryTerms => tf == q.tf
    case _ => false
  }
  override def hashCode: Int = tf.hashCode
  override def toString: String =
    s"${tf.size} query terms, hash ${Integer.toHexString(hashCode)}"
}

/** BM25's sparse dot product of one document's forward entries with a
  * query: `fwd` is `ARRAY<STRUCT<term, weight, idf>>`
  * ([[graft.operators.Bm25.Index.forward]], entries sorted by term),
  * and the score folds `acc + weight · (q_tf · idf)` over the entries
  * whose term is a query term, in entry order, from 0.0 — the products,
  * in the order, that [[graft.operators.Bm25.sparseScore]] sums over the
  * postings join, so both score bit-identically. Null when no entry is a
  * query term (or `fwd` is null): the document does not match. One loop
  * per row inside whole-stage codegen; the higher-order-function form
  * (`aggregate(filter(fwd, …), …)`) evaluates interpreted. */
case class SparseDot(child: Expression, query: QueryTerms)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def entryType: Option[StructType] = child.dataType match {
    case ArrayType(st: StructType, _) => Some(st)
    case _ => None
  }
  @transient private lazy val termAt = entryType.get.fieldIndex("term")
  @transient private lazy val weightAt = entryType.get.fieldIndex("weight")
  @transient private lazy val idfAt = entryType.get.fieldIndex("idf")
  @transient private lazy val width = entryType.get.size

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def has(name: String, t: DataType) =
      entryType.exists(_.find(_.name == name).exists(_.dataType == t))
    if (has("term", StringType) && has("weight", DoubleType) &&
        has("idf", DoubleType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "expected an array<struct<term: string, weight: double, " +
          s"idf: double>> input, got ${child.dataType.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val fwd = input.asInstanceOf[ArrayData]
    var acc = 0.0
    var hit = false
    var j = 0
    while (j < fwd.numElements()) {
      val e = fwd.getStruct(j, width)
      val q = query.get(e.getUTF8String(termAt))
      if (q != null) {
        acc = acc + e.getDouble(weightAt) * (q.doubleValue * e.getDouble(idfAt))
        hit = true
      }
      j += 1
    }
    if (hit) acc else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("queryTerms", query, classOf[QueryTerms].getName)
    val c = child.genCode(ctx)
    val (j, e, q) = (ctx.freshName("j"), ctx.freshName("e"), ctx.freshName("q"))
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = true;
      |double ${ev.value} = 0.0;
      |if (!${c.isNull}) {
      |  for (int $j = 0; $j < ${c.value}.numElements(); $j++) {
      |    InternalRow $e = ${c.value}.getStruct($j, $width);
      |    java.lang.Double $q = $ref.get($e.getUTF8String($termAt));
      |    if ($q != null) {
      |      ${ev.value} = ${ev.value} + $e.getDouble($weightAt) *
      |        ($q.doubleValue() * $e.getDouble($idfAt));
      |      ${ev.isNull} = false;
      |    }
      |  }
      |}
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SparseDot =
    copy(child = newChild)
}

/** A query weighted under one corpus's BM25 statistics, as an expression
  * field: per query term its query weight `q_tf · idf` and its idf, the
  * corpus's average document length, and BM25's `k1` and `b`. Compared
  * by value and printed as a count and hash, like [[QueryTerms]]. */
final class CorpusQuery(val terms: Map[String, (Double, Double)],
    val avgDocLen: Double, val k1: Double, val b: Double) extends Serializable {
  @transient private lazy val lookup: java.util.HashMap[UTF8String, Array[Double]] = {
    val m = new java.util.HashMap[UTF8String, Array[Double]]()
    terms.foreach { case (t, (qw, idf)) =>
      m.put(UTF8String.fromString(t), Array(qw, idf)) }
    m
  }

  /** `(q_tf · idf, idf)` of `term`, or null when it is not a query term. */
  def get(term: UTF8String): Array[Double] = lookup.get(term)

  override def equals(o: Any): Boolean = o match {
    case q: CorpusQuery => terms == q.terms && avgDocLen == q.avgDocLen &&
      k1 == q.k1 && b == q.b
    case _ => false
  }
  override def hashCode: Int = (terms, avgDocLen, k1, b).hashCode
  override def toString: String =
    s"${terms.size} query terms, hash ${Integer.toHexString(hashCode)}"
}

/** [[SparseDot]] under statistics other than the ones the entries were
  * weighted with: `fwd` is `ARRAY<STRUCT<term, tf, ...>>` and `docLen`
  * the document's token count ([[graft.operators.Bm25.Index.forward]]).
  * Each entry whose term is a query term gets its weight recomputed from
  * `(tf, docLen)` and the query's idf and average document length, with
  * the double operations, in the order, of the index build's weight
  * column:
  * `idf · (tf · (k1 + 1)) / (tf + k1 · ((1 − b) + b · docLen / avgdl))`,
  * the norm 1.0 when avgdl is 0. An entry whose weight is not positive is
  * skipped, as the index build drops it. The score folds
  * `acc + weight · (q_tf · idf)` in entry order from 0.0, as SparseDot
  * does, and is null when no entry is kept (or either input is null).
  * The arithmetic is one Scala method, called by the interpreted and the
  * generated code alike. */
case class ReweightedSparseDot(left: Expression, right: Expression,
    query: CorpusQuery) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def entryType: Option[StructType] = left.dataType match {
    case ArrayType(st: StructType, _) => Some(st)
    case _ => None
  }
  @transient private lazy val termAt = entryType.get.fieldIndex("term")
  @transient private lazy val tfAt = entryType.get.fieldIndex("tf")
  @transient private lazy val width = entryType.get.size
  private val k1p1 = query.k1 + 1.0
  private val oneMinusB = 1.0 - query.b

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def has(name: String, t: DataType) =
      entryType.exists(_.find(_.name == name).exists(_.dataType == t))
    if (has("term", StringType) && has("tf", LongType) &&
        right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "expected array<struct<term: string, tf: bigint, ...>> and bigint " +
          s"inputs, got ${left.dataType.simpleString} / " +
          right.dataType.simpleString)
  }

  def score(fwd: ArrayData, docLen: Long): java.lang.Double = {
    val norm =
      if (query.avgDocLen > 0.0)
        oneMinusB + query.b * docLen.toDouble / query.avgDocLen
      else 1.0
    var acc = 0.0
    var hit = false
    var j = 0
    while (j < fwd.numElements()) {
      val e = fwd.getStruct(j, width)
      val q = query.get(e.getUTF8String(termAt))
      if (q != null) {
        val tf = e.getLong(tfAt).toDouble
        val weight = q(1) * (tf * k1p1) / (tf + query.k1 * norm)
        if (weight > 0.0) {
          acc = acc + weight * q(0)
          hit = true
        }
      }
      j += 1
    }
    if (hit) acc else null
  }

  override def nullSafeEval(fwd: Any, docLen: Any): Any =
    score(fwd.asInstanceOf[ArrayData], docLen.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("reweighted", this,
      classOf[ReweightedSparseDot].getName)
    val s = ctx.freshName("s")
    nullSafeCodeGen(ctx, ev, (fwd, docLen) =>
      s"""
         |java.lang.Double $s = $ref.score($fwd, $docLen);
         |if ($s == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $s.doubleValue(); }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): ReweightedSparseDot =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  def dotExpr(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))

  def queryDotExpr(v: Column, query: QueryVector): Column =
    ColumnBridge.column(QueryDot(ColumnBridge.expression(v), query))

  def sparseDotExpr(fwd: Column, query: QueryTerms): Column =
    ColumnBridge.column(SparseDot(ColumnBridge.expression(fwd), query))

  def reweightedSparseDotExpr(fwd: Column, docLen: Column,
      query: CorpusQuery): Column =
    ColumnBridge.column(ReweightedSparseDot(ColumnBridge.expression(fwd),
      ColumnBridge.expression(docLen), query))

  def cosineExpr(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a),
      ColumnBridge.expression(b)))

  /** Register `vec_dot` / `vec_cosine` for SQL use. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_dot", exprs => DotProduct(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "vec_cosine", exprs => CosineSimilarity(exprs.head, exprs(1)), "built-in")
  }
}

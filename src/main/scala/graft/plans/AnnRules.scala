package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import graft.functions.CosineSimilarity
import graft.operators.Knn

/** Opt-in Catalyst optimizer rule (SURVEY.md §4 "custom Catalyst work"):
  * rewrite exact `ORDER BY cosine(vec, <literal query>) DESC LIMIT k`
  * over a table carrying a precomputed `_lsh_bucket` column into a
  * bucket-pruned scan — the query's own LSH bucket is computable at
  * plan time from the literal query vector, so the filter prunes
  * ~(1 − 1/2^planes) of the corpus before any scoring work.
  *
  * APPROXIMATE, hence opt-in: enable with
  * `spark.graft.ann.lshRewrite=true`; the bucket column must have been
  * produced by `Knn.lshBucket` with the default plane family and the
  * plane count in `spark.graft.ann.lshPlanes` (default 8).
  *
  * Shape matched (what `df.withColumn("score", cosine(vec, lit(q)))
  * .orderBy(desc("score")).limit(k)` lowers to after constant folding):
  *   GlobalLimit(LocalLimit(Sort(score DESC, Project(..score=cos(..)..,
  *     child with _lsh_bucket))))
  */
case class AnnLshRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  val BucketCol = "_lsh_bucket"

  private def enabled: Boolean =
    spark.conf.getOption("spark.graft.ann.lshRewrite").contains("true")
  private def nPlanes: Int =
    spark.conf.getOption("spark.graft.ann.lshPlanes").map(_.toInt).getOrElse(8)

  /** Extract a constant double array from a (folded or unfolded)
    * literal array expression. */
  private def literalVector(e: Expression): Option[Array[Double]] = e match {
    case Literal(data: org.apache.spark.sql.catalyst.util.ArrayData,
        ArrayType(DoubleType, _)) =>
      Some(data.toDoubleArray())
    case ca: CreateArray if ca.children.forall(_.foldable) =>
      Some(ca.children.map(_.eval(null) match {
        case d: Double => d
        case f: Float => f.toDouble
        case n: Number => n.doubleValue()
      }).toArray)
    case _ => None
  }

  private def queryVecOf(cs: CosineSimilarity): Option[Array[Double]] =
    literalVector(cs.right).orElse(literalVector(cs.left))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      // CollapseProject has usually merged the bucket and score
      // projections by optimize time, so the Filter goes between the
      // Sort and whatever plan exposes the bucket attribute.
      case gl @ GlobalLimit(_, ll @ LocalLimit(_,
          sort @ Sort(Seq(SortOrder(attr: Attribute, Descending, _, _)), _,
            p @ Project(projList, _), _)))
          if p.output.exists(_.name == BucketCol) =>
        val rewritten = for {
          cs <- projList.collectFirst {
            case a @ Alias(c: CosineSimilarity, _)
                if a.exprId == attr.exprId => c
          }
          qVec <- queryVecOf(cs)
          bucketAttr <- p.output.find(_.name == BucketCol)
        } yield {
          val planes = Knn.hyperplanes(nPlanes, qVec.length)
          var bucket = 0L
          planes.zipWithIndex.foreach { case (h, i) =>
            if (graft.functions.VectorFunctions.dotS(qVec, h) >= 0.0)
              bucket |= (1L << i)
          }
          gl.copy(child = ll.copy(child =
            sort.copy(child = Filter(
              EqualTo(bucketAttr, Literal(bucket)), p))))
        }
        rewritten.getOrElse(gl)
    }
  }
}

/** Session-extension installer: a session builder's
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.plans.GraftExtensions`) registers the
  * vec_dot/vec_cosine SQL functions and the opt-in ANN rewrite. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[graft.functions.DotProduct].getName, "vec_dot"),
      (exprs: Seq[Expression]) =>
        graft.functions.DotProduct(exprs.head, exprs(1))))
    e.injectFunction((
      new org.apache.spark.sql.catalyst.FunctionIdentifier("vec_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "vec_cosine"),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    e.injectOptimizerRule(session => AnnLshRewrite(session))
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

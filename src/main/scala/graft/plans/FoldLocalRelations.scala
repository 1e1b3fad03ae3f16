package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.types._

/** Optimizer rule: evaluate operators over driver-resident relations on
  * the driver.
  *
  * Spark's own `ConvertToLocalRelation` folds a Project, Filter or Limit
  * over a `LocalRelation` into a new `LocalRelation`; everything else over
  * one — a `count()`, a union of two local frames, an anti-join of a
  * listing against a file list — is planned as a distributed query, and
  * an aggregate or a join of two rows costs a Spark job or two. This rule
  * extends that fold to three more shapes over non-streaming local
  * relations:
  *
  *  - a global `count(1)` with no grouping (what `Dataset.count()` builds)
  *    becomes a one-row relation;
  *  - a positional `Union` of local children becomes one relation;
  *  - an equi-key `LeftAnti`/`LeftSemi` join with no residual condition
  *    is evaluated as a hash set of the right side's keys. Keys are
  *    compared as `UnsafeRow` bytes, so only key types whose equality IS
  *    binary equality fold: integral, boolean, date, timestamp, decimal
  *    and `UTF8_BINARY` string. Float/double (-0.0, NaN), binary,
  *    collated and complex keys, residual conditions and null-aware
  *    (NOT IN) anti-joins stay unfolded. A null key never matches.
  *
  * It applies `ConvertToLocalRelation` itself on the way up, so a
  * Project that column pruning slips between two of these shapes does
  * not stop the fold. No size bound is needed: every input is already on
  * the driver, and no fold outputs more rows than its inputs hold. The
  * rule prunes by the `LOCAL_RELATION` tree pattern, so a plan without a
  * local relation costs one bit test. Disable with
  * `spark.sql.optimizer.excludedRules=graft.plans.FoldLocalRelations`.
  */
object FoldLocalRelations extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case p @ (Project(_, Local(_)) | Filter(_, Local(_)) | Limit(_, Local(_))) =>
        ConvertToLocalRelation(p)

      case Aggregate(Nil, Seq(a @ Alias(AggregateExpression(Count(args), Complete, false, None, _), _)),
                     Local(child), _) if args.forall(e => e.foldable && !e.nullable) =>
        LocalRelation(Seq(a.toAttribute), Seq(InternalRow(child.data.size.toLong)))

      case u @ Union(children, false, false) if children.forall(Local.unapply(_).isDefined) =>
        LocalRelation(u.output, children.flatMap(_.asInstanceOf[LocalRelation].data))

      case j @ Join(Local(left), Local(right), LeftAnti | LeftSemi, _, _) =>
        j match {
          case ExtractEquiJoinKeys(jt, lk, rk, None, _, _, _, _)
              if lk.zip(rk).forall { case (l, r) => foldableKey(l) && foldableKey(r) } =>
            val leftKey = keyProjection(lk, left.output)
            val rightKey = keyProjection(rk, right.output)
            val keys = mutable.HashSet.empty[UnsafeRow]
            right.data.foreach { row =>
              val k = rightKey(row)
              if (!k.anyNull) keys += k.copy()
            }
            val keep = jt == LeftSemi
            LocalRelation(left.output, left.data.filter { row =>
              val k = leftKey(row)
              (!k.anyNull && keys.contains(k)) == keep
            })
          case _ => j
        }
    }

  /** A non-streaming `LocalRelation`. */
  private object Local {
    def unapply(p: LogicalPlan): Option[LocalRelation] = p match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case _ => None
    }
  }

  private def foldableKey(e: Expression): Boolean =
    e.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(e) && binaryEquality(e.dataType)

  private def binaryEquality(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType => true
    case DateType | TimestampType | TimestampNTZType | _: DecimalType => true
    case s: StringType => s.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  }

  private def keyProjection(keys: Seq[Expression], input: Seq[Attribute]): UnsafeProjection =
    InterpretedUnsafeProjection.createProjection(BindReferences.bindReferences(keys, input))
}

package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.{ExtractEquiJoinKeys, PhysicalOperation}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, LOCAL_RELATION}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.{CaseInsensitiveMap, CollationFactory}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.catalog.{GraftCatalog, ManifestFileIndex}

/** Optimizer rule: evaluate operators over small inputs on the driver.
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
  * A count also folds over small graft table reads. Under it may sit any
  * tree of deterministic Projects and Filters, positional Unions and
  * foldable anti/semi joins whose leaves are local relations or
  * manifest-planned file scans: a `HadoopFsRelation` on a
  * [[ManifestFileIndex]] with no partition columns, no `_metadata` or
  * other metadata column (position-delete and lineage reads stay on the
  * scan), not streaming and not asked to ignore corrupt or missing files.
  * The scans' files, summed over the tree, total at most
  * [[GraftCatalog.LocalFilesTableBytes]] (the bound `filesTable` reads on
  * the driver under). Each scan is read on the driver through the reader
  * a scan task would build ([[ManifestFileIndex.readOnDriver]]: the
  * relation's format, data schema, pruned required schema, options and
  * Hadoop conf), and its rows are streamed through the tree and counted:
  * nothing but a join's right-side key set is held. For a bare count
  * that reads only the files' footers and sums their row groups' row
  * counts, as Spark's Parquet COUNT pushdown does.
  * The tree is checked whole, a join's keys first, before any file is
  * read, so a fold never reads and then gives up. Anything other than a
  * count over a scan stays a scan — a bare, projected, filtered or
  * merge-on-read read keeps its `inputFiles` and pruning — since a
  * relation built from a scan's rows is bounded only by its compressed
  * bytes, not its decoded rows.
  *
  * No other bound is needed: a fold over local relations outputs no more
  * rows than its inputs, already on the driver, hold. It applies
  * `ConvertToLocalRelation` itself on the way up, so a Project that
  * column pruning slips between two of these shapes does not stop the
  * fold. The rule prunes by tree pattern: a plan with no local relation
  * and no aggregate costs one bit test, and a scan is looked for only
  * under a count. Disable with
  * `spark.sql.optimizer.excludedRules=graft.plans.FoldLocalRelations`.
  */
object FoldLocalRelations extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsAnyPattern(LOCAL_RELATION, AGGREGATE)) {
      case p @ (Project(_, Local(_)) | Filter(_, Local(_)) | Limit(_, Local(_))) =>
        ConvertToLocalRelation(p)

      case Aggregate(Nil, Seq(a @ Alias(AggregateExpression(Count(args), Complete, false, None, _), _)),
                     Stream(child), _)
          if args.forall(e => e.foldable && !e.nullable) &&
            child.bytes <= GraftCatalog.LocalFilesTableBytes =>
        var n = 0L
        child.foreach(_ => n += 1)
        LocalRelation(Seq(a.toAttribute), Seq(InternalRow(n)))

      case u @ Union(children, false, false) if children.forall(Local.unapply(_).isDefined) =>
        LocalRelation(u.output, children.flatMap(_.asInstanceOf[LocalRelation].data))

      case j @ Join(Local(left), Local(right), LeftAnti | LeftSemi, _, _) =>
        joinKeys(j).fold[LogicalPlan](j) { case (lk, rk, semi) =>
          // a local relation's rows are its own: kept as they come
          val out = Vector.newBuilder[InternalRow]
          KeyJoin(Rows(left), Rows(right), lk, rk, semi).foreach(out += _)
          LocalRelation(left.output, out.result())
        }
    }

  /** A non-streaming `LocalRelation`. */
  private object Local {
    def unapply(p: LogicalPlan): Option[LocalRelation] = p match {
      case l: LocalRelation if !l.isStreaming => Some(l)
      case _ => None
    }
  }

  /** A plan the rule can evaluate on the driver, row by row: its output,
    * the file bytes it reads and its rows. Built without reading, so a
    * fold is certain before anything is read. */
  private sealed trait Stream {
    def output: Seq[Attribute]
    def bytes: Long
    /** Each row in turn; rows read from a file are reused, so `f` copies
      * what it keeps. */
    def foreach(f: InternalRow => Unit): Unit
  }

  private final case class Rows(l: LocalRelation) extends Stream {
    def output: Seq[Attribute] = l.output
    def bytes: Long = 0L
    def foreach(f: InternalRow => Unit): Unit = l.data.foreach(f)
  }

  /** `projects` and `filters` (Spark's order: filters first) over
    * `child`'s rows; a scan leaf reads only the columns they reference. */
  private final case class Mapped(projects: Seq[NamedExpression], filters: Seq[Expression],
                                  child: Stream) extends Stream {
    def output: Seq[Attribute] = projects.map(_.toAttribute)
    def bytes: Long = child.bytes
    def foreach(f: InternalRow => Unit): Unit = {
      val keep = filters.reduceOption(And).map(c =>
        Predicate.createInterpreted(BindReferences.bindReference(c, child.output)))
      val project = InterpretedUnsafeProjection.createProjection(
        BindReferences.bindReferences(projects, child.output))
      child.foreach(row => if (keep.forall(_.eval(row))) f(project(row)))
    }
  }

  /** The columns of a manifest-planned relation that `read` names, read
    * on the driver through the reader a scan task builds. */
  private final case class Scan(read: Seq[Attribute], fs: HadoopFsRelation,
                                index: ManifestFileIndex) extends Stream {
    def output: Seq[Attribute] = read
    def bytes: Long = index.sizeInBytes
    def foreach(f: InternalRow => Unit): Unit =
      ManifestFileIndex.readOnDriver(fs.sparkSession, fs.fileFormat, fs.dataSchema,
        DataTypeUtils.fromAttributes(read), fs.options, index.readFiles)(f)
  }

  /** A positional union: each child's rows in turn. */
  private final case class Concat(output: Seq[Attribute], children: Seq[Stream]) extends Stream {
    def bytes: Long = children.map(_.bytes).sum
    def foreach(f: InternalRow => Unit): Unit = children.foreach(_.foreach(f))
  }

  /** An equi-key anti (`keep` false) or semi join: a hash set of the
    * right side's keys, the left side's rows streamed past it. */
  private final case class KeyJoin(left: Stream, right: Stream, leftKeys: Seq[Expression],
                                   rightKeys: Seq[Expression], keep: Boolean) extends Stream {
    def output: Seq[Attribute] = left.output
    def bytes: Long = left.bytes + right.bytes
    def foreach(f: InternalRow => Unit): Unit = {
      val leftKey = keyProjection(leftKeys, left.output)
      val rightKey = keyProjection(rightKeys, right.output)
      val keys = mutable.HashSet.empty[UnsafeRow]
      right.foreach { row =>
        val k = rightKey(row)
        if (!k.anyNull) keys += k.copy()
      }
      left.foreach { row =>
        val k = leftKey(row)
        if ((!k.anyNull && keys.contains(k)) == keep) f(row)
      }
    }
  }

  /** The left and right keys of `j`, a LeftAnti/LeftSemi join, and
    * whether it is a semi join, when its keys allow a [[KeyJoin]]. */
  private def joinKeys(j: Join): Option[(Seq[Expression], Seq[Expression], Boolean)] = j match {
    case ExtractEquiJoinKeys(jt, lk, rk, None, _, _, _, _)
        if lk.zip(rk).forall { case (l, r) => foldableKey(l) && foldableKey(r) } =>
      Some((lk, rk, jt == LeftSemi))
    case _ => None
  }

  private object Stream {
    def unapply(p: LogicalPlan): Option[Stream] = p match {
      case Local(l) => Some(Rows(l))
      case PhysicalOperation(projects, filters, l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _))
          if smallScan(l, fs) && evaluable(projects ++ filters) =>
        val required = AttributeSet(projects ++ filters)
        val scan = Scan(l.output.filter(required.contains), fs,
          fs.location.asInstanceOf[ManifestFileIndex])
        Some(Mapped(projects, filters, scan))
      case Project(list, Stream(c)) if evaluable(list) => Some(Mapped(list, Nil, c))
      case Filter(cond, Stream(c)) if evaluable(Seq(cond)) => Some(Mapped(c.output, Seq(cond), c))
      case u @ Union(children, false, false) =>
        val streams = children.iterator.map(unapply).takeWhile(_.isDefined).flatten.toSeq
        if (streams.size < children.size) None else Some(Concat(u.output, streams))
      case j @ Join(l, r, LeftAnti | LeftSemi, _, _) =>
        // keys first: a join that cannot fold costs no look at its sides
        for ((lk, rk, semi) <- joinKeys(j); left <- unapply(l); right <- unapply(r))
          yield KeyJoin(left, right, lk, rk, semi)
      case _ => None
    }

    private def evaluable(es: Seq[Expression]): Boolean =
      es.forall(e => e.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(e))

    private def smallScan(l: LogicalRelation, fs: HadoopFsRelation): Boolean =
      fs.location match {
        case m: ManifestFileIndex if !l.isStreaming =>
          lazy val opts = new FileSourceOptions(CaseInsensitiveMap(fs.options))
          m.sizeInBytes <= GraftCatalog.LocalFilesTableBytes &&
            fs.partitionSchema.isEmpty && fs.bucketSpec.isEmpty &&
            !l.output.exists(a => MetadataAttribute.isValid(a.metadata)) &&
            !opts.ignoreCorruptFiles && !opts.ignoreMissingFiles
        case _ => false
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

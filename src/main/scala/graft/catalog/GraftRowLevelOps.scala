package graft.catalog

import java.util.UUID

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, Filter, TableScan}
import org.apache.spark.sql.types.{DataType, NumericType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** SQL row-level operations (UPDATE / MERGE INTO / subquery DELETE) for
  * graft tables — Spark's `SupportsRowLevelOperations` contract,
  * implemented GROUP-BASED (copy-on-write) at FILE granularity, the
  * public Iceberg-Spark COW design:
  *
  *  1. the operation's SCAN receives the command's condition as pushed
  *     filters and uses them for FILE pruning ONLY (manifest min/max
  *     bounds + blooms — never row filtering: a matched file's
  *     non-matching rows must flow through the rewrite unchanged);
  *     candidate files are read merge-on-read (deletes applied);
  *  2. Spark's rewrite plan computes the replacement rows (updated +
  *     untouched for UPDATE, survivors for DELETE, merged + inserted
  *     for MERGE) and hands them to the WRITE, whose tasks stage
  *     parquet directly via [[RowParquetWriter]] — per-file manifest
  *     stats tracked in-line, zero post-hoc stats job;
  *  3. commit is ONE atomic [[GraftCatalog.commitRewriteFiles]]
  *     conditional on the head the scan planned against — a concurrent
  *     commit aborts the statement loudly instead of losing updates.
  *
  * At 100 TB: an UPDATE whose predicate the manifests can bound (data
  * clustered on the predicate column, or bloom-indexed keys) rewrites
  * only the k files that might match — O(k) data IO, one metadata
  * commit, never a table rewrite. Reference basis: the reference's
  * catalog commits whole-file units (FileAction in
  * legacy/modules/domain); this is that unit model driving Spark's
  * row-level SQL. */
private[catalog] final class GraftRowLevelContext(val cat: GraftCatalog,
                                                  val ns: String,
                                                  val name: String) {
  def spark: SparkSession = cat.spark
  def tableDirAbs: String =
    java.nio.file.Paths.get(cat.warehouse, ns, name).toAbsolutePath.toString
}

/** Mode dispatch: `spark.graft.rowlevel.mode` selects how UPDATE /
  * MERGE / rewrite-DELETE statements materialize —
  * `copy-on-write` (default): affected files are rewritten whole, reads
  * stay delete-free; `merge-on-read`: the statement appends only a
  * DELTA (new data files + position-delete files), O(changed rows)
  * write amplification, reads pay the positional anti-join until the
  * next compact. The same knob Iceberg exposes per-table
  * (write.update.mode etc.), session-scoped here. */
private[catalog] final class GraftCowOperationBuilder(ctx: GraftRowLevelContext,
                                                      info: RowLevelOperationInfo)
    extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation = {
    // lineage names are the operation's rowId/metadata channel: a DATA
    // column called _file/_pos would resolve instead of the lineage and
    // corrupt the rewrite — refuse at planning, loudly
    val clash = ctx.cat.tableSchema(ctx.ns, ctx.name).toSeq
      .flatMap(_.fieldNames).filter(n => n == "_file" || n == "_pos")
    if (clash.nonEmpty) throw new UnsupportedOperationException(
      s"${ctx.ns}.${ctx.name}: row-level SQL needs the reserved lineage " +
        s"columns ${clash.mkString(", ")}; rename the data column(s)")
    ctx.spark.conf.get("spark.graft.rowlevel.mode", "copy-on-write") match {
      case "copy-on-write"  => new GraftCowOperation(ctx, info.command())
      case "merge-on-read"  => new GraftDeltaOperation(ctx, info.command())
      case other => throw new IllegalArgumentException(
        s"spark.graft.rowlevel.mode must be copy-on-write or merge-on-read, got '$other'")
    }
  }
}

/** The scan↔write channel both operation kinds share: set at scan
  * build — (head commitId planned against, None for a version-less
  * table; the candidate data-file set). */
private[catalog] trait GraftPlannedOperation {
  @volatile private[catalog] var planned: Option[(Option[String], Set[String])] = None
}

/** One SQL statement's operation instance — Spark shares it between the
  * scan and the write, which is exactly the channel the candidate file
  * set and the planned-against head travel through. */
private[catalog] final class GraftCowOperation(ctx: GraftRowLevelContext,
                                               cmd: RowLevelOperation.Command)
    extends RowLevelOperation with GraftPlannedOperation {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftCow[$cmd ${ctx.ns}.${ctx.name}]"

  /** Row lineage — CRITICAL beyond its uses (MERGE cardinality check):
    * with no metadata attributes Spark's ReplaceDataExec takes the
    * plain writing task, which hands writers the UNPROJECTED rewrite
    * rows (leading `__row_operation` column included). Declaring
    * lineage forces the projecting task, so the writer receives clean
    * table rows and the (nullified-on-update) lineage separately. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(ctx, this, rowFilter = false)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftCowWrite(ctx, GraftCowOperation.this, info.schema())
    }
}

/** Merge-on-read row-level operation: the write is a DELTA — inserted/
  * updated rows land as new data files, deleted/rewritten source rows
  * as position-delete files keyed by the lineage rowId (`_file`,
  * `_pos`) — exactly the (file_path, pos) model commitDeletePositions
  * established, so the result is indistinguishable from a native
  * position delete (export/import interop included). UPDATE splits
  * into delete+insert ([[SupportsDelta.representUpdateAsDeleteAndInsert]]),
  * mapping 1:1 onto the delta commit's two manifest units. Unlike the
  * COW scan, the delta scan may row-filter: Spark re-derives matched
  * rows itself, so filters are reported as residuals and also applied
  * inside the inner plan (normal pushdown). */
private[catalog] final class GraftDeltaOperation(ctx: GraftRowLevelContext,
                                                 cmd: RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.SupportsDelta
    with GraftPlannedOperation {

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"GraftDelta[$cmd ${ctx.ns}.${ctx.name}]"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"),
      org.apache.spark.sql.connector.expressions.Expressions.column("_pos"))

  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCowScanBuilder(ctx, this, rowFilter = true)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftDeltaWrite(ctx, GraftDeltaOperation.this, info.schema())
    }
}

/** The operation's read side. Filters prune FILES (conservatively, via
  * the same manifest bounds/bloom arithmetic as readWhereAll /
  * readWhereEquals). Row handling differs by mode:
  * `rowFilter = false` (group-based COW): filters are reported fully
  * pushed and NEVER applied to rows — the rewrite's own projection
  * re-evaluates the condition, and a row filter here would silently
  * drop a matched file's unmatched rows from the rewrite (data loss).
  * `rowFilter = true` (delta): translated filters also apply inside
  * the inner plan (normal pushdown) AND are reported as residuals, so
  * Spark re-evaluates them — always safe. */
private[catalog] final class GraftCowScanBuilder(ctx: GraftRowLevelContext,
                                                 op: GraftPlannedOperation,
                                                 rowFilter: Boolean)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val snap = ctx.cat.latest(ctx.ns, ctx.name)
  private val tableSchema: StructType =
    snap.flatMap(_.schemaJson)
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(StructType(Seq.empty))

  private var filters: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(fs: Array[Filter]): Array[Filter] = {
    filters = fs
    // COW: fully consumed as GROUP filters (see class doc); delta:
    // all residual, Spark re-evaluates above the (row-filtered) scan
    if (rowFilter) fs else Array.empty
  }
  override def pushedFilters(): Array[Filter] = filters
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val cands: Set[String] = snap match {
      case None => Set.empty
      case Some(s) =>
        ctx.cat.prunedDataEntries(ctx.ns, ctx.name, s, filters).map(_.path).toSet
    }
    op.planned = Some((snap.map(_.commitId), cands))
    val requiredNames = required.fieldNames.toSeq
    val sn = snap
    new GraftCowScan(required, op, sn.map(_.commitId), cands, rowFilter,
      ctx.spark, cs => sn match {
        case Some(s) =>
          val base = ctx.cat.readFilesMorLineage(ctx.ns, ctx.name, s, cs)
          val filtered =
            if (!rowFilter) base
            else filters.foldLeft(base)((d, f) =>
              GraftScanBuilder.toColumn(f).map(d.filter).getOrElse(d))
          filtered.select(requiredNames.map(col): _*)
        case None =>
          ctx.spark.createDataFrame(
            ctx.spark.sparkContext.emptyRDD[Row], required)
      })
  }
}

/** The COW read as a LOGICAL plan carrier. Spark plans row-level
  * operation scans straight to `BatchScanExec` (no V1 bridge), but the
  * read we want is the catalog's own merge-on-read DataFrame plan —
  * parquet scans + positional delete anti-joins, whole-stage-codegen'd
  * and AQE-planned like any native read. So this Scan never executes:
  * [[GraftCowScanSubstitution]] splices `inner`'s analyzed plan in
  * during optimization (rooted onto the relation's attribute ids).
  *
  * Declares [[SupportsRuntimeV2Filtering]] on `_file` so Spark's
  * `RowLevelOperationRuntimeGroupFiltering` rule plans a matching-files
  * subquery for conditions static pruning can't see (MERGE's
  * join-dependent ON, untranslatable UPDATE predicates). The
  * substitution rule — not BatchScanExec, which never exists here —
  * executes that subquery and calls [[narrowTo]]: the candidate set is
  * BOTH the read scope and the commit's removed-file set, so the two
  * narrow together (narrowing only one would lose rows). */
private[catalog] final class GraftCowScan(required: StructType,
                                          op: GraftPlannedOperation,
                                          headId: Option[String],
                                          initialCands: Set[String],
                                          private[catalog] val rowFilter: Boolean,
                                          private[catalog] val session: SparkSession,
                                          innerFor: Set[String] => org.apache.spark.sql.DataFrame)
    extends Scan with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
  @volatile private var cands: Set[String] = initialCands

  /** Restrict the statement to `files` (∩ current candidates): files
    * provably holding no matching row are neither read nor removed —
    * their manifest entries ride through the commit verbatim. */
  private[catalog] def narrowTo(files: Set[String]): Unit = {
    cands = cands.intersect(files)
    op.planned = Some((headId, cands))
  }
  private[catalog] def candidates: Set[String] = cands

  /** Execute-once memo for the matching-files subquery: re-optimizing
    * the same statement (the substitution batch is fixed-point; a plan
    * may be visited more than once) must not re-run the job — narrowing
    * is idempotent, the job is not free. Keyed by the subquery's
    * semantic hash so distinct pruning subqueries still all apply. */
  private val narrowedKeys = scala.collection.mutable.Set.empty[Int]
  private[catalog] def narrowOnce(key: Int, compute: => Set[String]): Unit =
    synchronized { if (narrowedKeys.add(key)) narrowTo(compute) }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  /** Contract completeness only: runtime filters reach a scan through
    * BatchScanExec, which this scan never becomes (toBatch throws) —
    * the substitution rule performs the narrowing instead. Best-effort
    * per the interface: narrow on IN/= over `_file`, ignore the rest. */
  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    predicates.foreach { p =>
      val refsFile = p.references().exists(_.fieldNames().sameElements(Array("_file")))
      if (refsFile && (p.name() == "IN" || p.name() == "=")) {
        val vs = p.children().collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.dataType() == StringType => l.value().toString
        }
        if (vs.nonEmpty) narrowTo(vs.toSet)
      }
    }

  override def readSchema(): StructType = required
  override def description(): String = "GraftCowScan"
  // the OPTIMIZED plan: the substitution batch runs after the main
  // optimizer, so an analyzed subtree would keep RuntimeReplaceable
  // expressions (url_decode in the lineage scan) that physical planning
  // cannot execute — optimizing the fragment independently runs the
  // full rule set over it exactly once
  private[graft] def innerPlan(): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    innerFor(cands).queryExecution.optimizedPlan
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    throw new IllegalStateException(
      "GraftCowScan executed directly — the GraftCowScanSubstitution " +
        "optimizer rule is not installed in this session (it is added by " +
        "GraftSparkCatalog.initialize; re-register the catalog)")
}

/** Late optimizer rule: replace every [[GraftCowScan]] relation with its
  * inner merge-on-read logical plan, re-rooted onto the relation's
  * output attribute ids. Installed idempotently into
  * `spark.experimental.extraOptimizations` by GraftSparkCatalog — that
  * batch runs AFTER the row-level scan-planning rule created the
  * relation, and before physical planning.
  *
  * RUNTIME GROUP FILTERING: when Spark's
  * `RowLevelOperationRuntimeGroupFiltering` rule (fires earlier, in the
  * PartitionPruning batch, because the scan declares
  * SupportsRuntimeV2Filtering on `_file`) has wrapped the relation in
  * `Filter(DynamicPruningExpression(InSubquery(_file, matching-files
  * subquery)), rel)`, this rule executes that subquery ONCE on the
  * driver (the DPP trade: one small semi-join job buys file-exact
  * pruning) and narrows the scan — candidate READ set and commit
  * REMOVED set together, which is the data-safety invariant: a
  * row-level `_file IN (...)` filter left above a group-based scan
  * would silently drop non-matching files' rows from the rewrite while
  * the commit still removed those files. The Filter is consumed here
  * precisely so that can never happen; after file-level narrowing the
  * predicate is a tautology. At 100 TB this is the difference between
  * a join-keyed MERGE rewriting every candidate file and rewriting
  * only the files that provably hold matches. */
private[graft] object GraftCowScanSubstitution
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, DynamicPruning, DynamicPruningExpression, InSubquery, ListQuery}
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // DATA-SAFETY PRE-CHECK: a dynamic pruning predicate over a
    // group-based scan is consumable ONLY in the exact
    // Filter-directly-above-the-relation shape Spark emits today. In
    // any other placement (a Project in between, a DynamicPruningSubquery
    // instead of the planned expression) the bare-relation case below
    // would substitute the scan while the predicate survives as a ROW
    // filter — rows of non-matching files vanish from the rewrite while
    // the commit still removes those files: silent row loss. Turn that
    // latent corruption into a loud planning failure.
    val groupScanIds: Set[org.apache.spark.sql.catalyst.expressions.ExprId] =
      plan.collect {
        case rel: DataSourceV2ScanRelation
            if rel.scan.isInstanceOf[GraftCowScan] &&
               !rel.scan.asInstanceOf[GraftCowScan].rowFilter =>
          rel.output.map(_.exprId)
      }.flatten.toSet
    if (groupScanIds.nonEmpty) plan.foreach {
      case Filter(_, rel: DataSourceV2ScanRelation)
          if rel.scan.isInstanceOf[GraftCowScan] => () // the consumable shape
      case node => node.expressions.foreach(_.foreach {
        case d: DynamicPruning if d.references.exists(a => groupScanIds(a.exprId)) =>
          throw new IllegalStateException(
            s"unconsumable dynamic pruning predicate over a group-based " +
              s"row-level scan (node ${node.nodeName}) — refusing to plan: " +
              s"left in place it would row-filter a scan whose commit " +
              s"removes whole files")
        case _ => ()
      })
    }
    plan.transform {
    case Filter(cond, rel: DataSourceV2ScanRelation)
        if rel.scan.isInstanceOf[GraftCowScan] &&
           splitConjunctivePredicates(cond)
             .exists(_.isInstanceOf[DynamicPruningExpression]) =>
      val scan = rel.scan.asInstanceOf[GraftCowScan]
      val (dyn, rest) = splitConjunctivePredicates(cond)
        .partition(_.isInstanceOf[DynamicPruningExpression])
      // skip the subquery only when static pruning already emptied the
      // candidate set — there is nothing left to narrow. (It is NOT a
      // full-table scan otherwise: the matching plan's own filters
      // stats-prune through readFilteredLatest, so a point UPDATE's
      // subquery reads just the statically-narrowed files and can still
      // narrow them to zero — e.g. a bloom false positive.)
      //
      // The subquery runs HERE, at optimization — the trade AQE also
      // makes when it replans mid-query: planning a row-level statement
      // is allowed to cost a job. Consequence worth knowing: EXPLAIN of
      // such a statement executes the matching subquery too (and prints
      // the narrowed plan — the plan that would actually run). The
      // per-scan memo keeps any re-optimization of the same statement
      // from re-running it.
      if (scan.candidates.nonEmpty) dyn.foreach {
        case DynamicPruningExpression(InSubquery(Seq(key: Attribute), lq: ListQuery))
            if key.name == "_file" && rel.output.exists(_.exprId == key.exprId) &&
               lq.plan.output.size == 1 &&
               lq.plan.output.head.dataType == StringType =>
          scan.narrowOnce(lq.plan.semanticHash(), {
            org.apache.spark.sql.graftbridge.ColumnBridge
              .ofRows(scan.session, lq.plan)
              .collect().iterator
              .collect { case r if !r.isNullAt(0) => r.getString(0) }
              .toSet
          })
        case other =>
          // unexpected shape: dropping a dynamic PRUNING filter is always
          // safe (the statement just rewrites the full candidate set, the
          // pre-narrowing semantics) — keeping it as a row filter is not
          logWarning(s"GraftCowScan: un-executable dynamic pruning filter " +
            s"dropped (full candidate set retained): $other")
      }
      val sub = substituted(rel)
      // residual static conjuncts (none are produced for group scans —
      // every pushed filter is consumed as a group filter — but a delta
      // scan's residuals re-apply above, and preserving unknown shapes
      // is behavior-identical to the pre-narrowing plan)
      rest.reduceOption(org.apache.spark.sql.catalyst.expressions.And)
        .map(Filter(_, sub)).getOrElse(sub)

    case rel: DataSourceV2ScanRelation if rel.scan.isInstanceOf[GraftCowScan] =>
      substituted(rel)
    }
  }

  private def substituted(rel: DataSourceV2ScanRelation): LogicalPlan = {
    val inner = rel.scan.asInstanceOf[GraftCowScan].innerPlan()
    require(inner.output.size == rel.output.size,
      s"GraftCowScan arity mismatch: ${inner.output.size} vs ${rel.output.size}")
    // position-aligned by construction (the scan selected readSchema's
    // columns in order); reusing the relation's exprIds keeps every
    // reference above resolved
    Project(rel.output.zip(inner.output).map { case (o, i) =>
      Alias(i, o.name)(exprId = o.exprId, qualifier = o.qualifier)
    }, inner)
  }
}

/** Conservative file-level predicate COMPILER: each pushed Filter
  * becomes one `ManifestEntry => Boolean` (true = the file MIGHT hold a
  * matching row and must be read/rewritten; false = provably cannot).
  * Per-filter work (value stringification, bloom probe positions) runs
  * ONCE at compile, not once per manifest entry — a point UPDATE over
  * 100k files hashes the probe 4 times, not 400k. Untranslatable
  * shapes and missing stats always keep the file; bounds compare via
  * [[GraftCatalog.boundsLt]] (UTF-8 order for strings — the build
  * side's order; Java-string order would mis-prune above the BMP and a
  * mis-pruned row-level operation LOSES updates; timestamps compare
  * numerically against their recorded epoch-micros form via
  * [[GraftCatalog.statForm]]). Blooms are probed only for types whose
  * probe form provably equals the build side's recorded form: integrals,
  * floats, strings, booleans, dates (toString == cast-to-string) and
  * timestamps (both sides use the tz-stable epoch-micros form). A
  * decimal drops trailing scale zeros in toString; probing it would
  * prune every file and silently match nothing, so it stays excluded. */
private[catalog] object CowPruning {
  private type Entry = GraftCatalog#ManifestEntry

  /** `statKey` maps a filter's LOGICAL column name to the PHYSICAL name
    * the manifest stats/blooms key on — identity except after a RENAME
    * COLUMN (the column-mapping layer, [[GraftCatalog.physicalName]]). */
  /** `spec` is the table's validated partition spec — equality probes
    * on bucket-transform sources then also compare the probe's spec
    * bucket value against the per-file derived bucket stat
    * ([[GraftCatalog.bucketProbeOf]]). This is the saturation-proof
    * half of point pruning: the fixed-size bloom goes all-ones past
    * ~BloomBits distinct keys per file, while the bucket stat (min==max
    * on aligned files) compares exactly at any file size. */
  def compile(f: Filter, dtOf: String => Option[DataType],
              statKey: String => String = identity,
              spec: Seq[GraftCatalog.PartitionField] = Seq.empty)
      : Entry => Boolean = {
    def numeric(c: String) = dtOf(c).exists(GraftCatalog.statNumeric)
    def lt(c: String)(a: String, b: String): Boolean =
      GraftCatalog.boundsLt(numeric(c))(a, b)
    // probe values rendered in the RECORDED stat form: timestamp stats
    // are tz-stable epoch micros, so Timestamp/Instant probes convert
    // (GraftCatalog.statForm) instead of being excluded wholesale
    def form(c: String, v: Any): String =
      dtOf(c).map(GraftCatalog.statForm(_, v)).getOrElse(v.toString)
    // timestamps are bloom-safe since the build side hashes the epoch-
    // micros form (GraftCatalog.stageDataFiles) — `form` renders the
    // probe identically, so bucket(n, timestampCol) point lookups prune
    def bloomSafe(c: String): Boolean = dtOf(c).exists {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
           StringType | org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType => true
      case _ => false
    }
    // Bounds may be consulted only when the probe's stat form is
    // commensurable with the build side's recorded stats: NUMERIC types
    // compare parsed (toString-form differences are absorbed by the
    // parse, and Decimal joins the safe set that way), TIMESTAMPS
    // compare as epoch micros (the recorded form — `form` converts the
    // probe), and bloomSafe's whitelist is exactly the types whose
    // toString IS the cast form. Everything else must keep the file: a
    // form mismatch AT a file's max bound compares above it and the
    // mis-prune LOSES the row's update.
    def boundsSafe(c: String): Boolean = numeric(c) || bloomSafe(c)
    // bounds verdicts — true on any doubt (no stats, unparseable,
    // incommensurable probe form)
    def bounds(c: String)(keep: (String, String) => Boolean): Entry => Boolean =
      if (!boundsSafe(c)) _ => true
      else { val k = statKey(c); e => e.stats.get(k) match {
        case Some((mn, mx)) =>
          try keep(mn, mx) catch { case _: NumberFormatException => true }
        case None => true
      } }
    def point(c: String, v: Any): Entry => Boolean = {
      if (v == null) return _ => false // = NULL matches no row
      val s = form(c, v)
      val boundsOk = bounds(c)((mn, mx) => !lt(c)(s, mn) && !lt(c)(mx, s))
      val positions =
        if (bloomSafe(c)) Some(GraftCatalog.bloomPositions(s)) else None
      val bk = statKey(c)
      // spec-bucket pruning: files recording a bucket range that cannot
      // contain the probe's bucket are out — exact at any file size
      val bucketOk: Entry => Boolean =
        GraftCatalog.bucketProbeOf(spec, c, dtOf(c), v, bk) match {
          case Some((key, b)) => e => GraftCatalog.bucketStatKeeps(e.stats, key, b)
          case None => _ => true
        }
      // versioned key for timestamp blooms (micros form) — legacy
      // string-form blooms are never probed (see GraftCatalog.bloomKeyOf)
      val bloomKey = GraftCatalog.bloomKeyOf(dtOf(c), bk)
      e => boundsOk(e) && bucketOk(e) && (positions match {
        case Some(pos) => e.blooms.get(bloomKey) match {
          case Some(b64) => GraftCatalog.bloomHit(b64, pos)
          case None => true
        }
        case None => true
      })
    }
    def cmpV(c: String, v: Any)(keep: (String, String, String) => Boolean)
        : Entry => Boolean =
      if (v == null) _ => false
      else { val s = form(c, v); bounds(c)((mn, mx) => keep(s, mn, mx)) }

    f match {
      case sources.EqualTo(a, v)       => point(a, v)
      case sources.EqualNullSafe(a, v) => if (v == null) _ => true else point(a, v)
      // keep iff some row can be strictly above/below the probe
      case sources.GreaterThan(a, v)        => cmpV(a, v)((s, _, mx) => lt(a)(s, mx))
      case sources.GreaterThanOrEqual(a, v) => cmpV(a, v)((s, _, mx) => !lt(a)(mx, s))
      case sources.LessThan(a, v)           => cmpV(a, v)((s, mn, _) => lt(a)(mn, s))
      case sources.LessThanOrEqual(a, v)    => cmpV(a, v)((s, mn, _) => !lt(a)(s, mn))
      case sources.In(a, vs) =>
        if (vs.isEmpty) _ => false
        else { val ps = vs.toSeq.map(v => point(a, v)); e => ps.exists(_(e)) }
      case sources.StringStartsWith(a, p) if dtOf(a).contains(StringType) =>
        // prefix bounds in UTF-8 order; the upper probe increments the
        // last char, which is only a sound least-upper-bound when the
        // increment stays inside ASCII — otherwise keep the file
        bounds(a) { (mn, mx) =>
          val ltS = GraftCatalog.boundsLt(numeric = false) _
          // p-prefixed strings all sit in [p, p.init :+ (p.last+1)): prune
          // when mx < p, or when mn is at/above the (ASCII-incrementable)
          // least upper bound
          val upperOk =
            p.isEmpty || p.last >= 0x7f || ltS(mn, p.init + (p.last + 1).toChar)
          !ltS(mx, p) && upperOk
        }
      // spec threads through the recursion: an equality probe nested in
      // a compound filter must keep its bucket-stat pruning (on a
      // bloom-saturated file that stat is the ONLY pruning signal left)
      case sources.And(l, r) =>
        val (cl, cr) = (compile(l, dtOf, statKey, spec),
          compile(r, dtOf, statKey, spec))
        e => cl(e) && cr(e)
      case sources.Or(l, r) =>
        val (cl, cr) = (compile(l, dtOf, statKey, spec),
          compile(r, dtOf, statKey, spec))
        e => cl(e) || cr(e)
      case sources.AlwaysFalse() => _ => false
      case _ => _ => true // IsNull/IsNotNull/Not/unknown: cannot prune
    }
  }
}

/** Per-task staged files: (manifest-relative path, size bytes, manifest
  * stats incl. the reserved `__rows` count). */
private[catalog] case class GraftCowFilesMessage(
    files: Seq[(String, Long, Map[String, (String, String)])])
  extends WriterCommitMessage

/** The operation's write side: stage replacement files, then ONE
  * conditional metadata commit. */
private[catalog] final class GraftCowWrite(ctx: GraftRowLevelContext,
                                           op: GraftCowOperation,
                                           writeSchema: StructType)
    extends Write with BatchWrite {

  override def description(): String = op.description()
  override def toBatch: BatchWrite = this

  // one op-id per statement, its files flat under data/ — the same
  // layout commitAppend's staging uses, so gc/orphan heuristics treat
  // aborted leftovers identically
  private val opId = s"cow-${UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val tableSchema = ctx.cat.tableSchema(ctx.ns, ctx.name)
    // catalogString = names + types, nullability-insensitive
    require(tableSchema.forall(t => writeSchema.catalogString == t.catalogString),
      s"row-level write schema ${writeSchema.simpleString} does not match " +
        s"table schema ${tableSchema.map(_.simpleString).getOrElse("<none>")}")
    // files are written (and their in-line stats keyed) under PHYSICAL
    // column names — same field order/types, so the InternalRows flow
    // through unchanged
    val physJson = tableSchema.map(GraftCatalog.physicalSchema)
      .getOrElse(writeSchema).json
    new GraftCowWriterFactory(ctx.tableDirAbs, GraftCatalog.opPrefix(opId), physJson,
      new SerializableConfiguration(ctx.spark.sparkContext.hadoopConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (head, cands) = op.planned.getOrElse(throw new IllegalStateException(
      s"${op.description()}: write committed without a planned scan"))
    val files = messages.toSeq
      .collect { case m: GraftCowFilesMessage => m.files }.flatten
    if (cands.isEmpty && files.isEmpty) return // matched nothing: no version
    head match {
      case Some(h) =>
        ctx.cat.commitRewriteFiles(ctx.ns, ctx.name, h, cands,
          files.map(f => (f._1, f._2)),
          files.map(f => f._1 -> f._3).toMap): Unit
      case None =>
        // version-less table (pre-SQL legacy): nothing to remove, the
        // inserted rows append as a first files-commit
        require(cands.isEmpty, "no head but candidates present")
        ctx.cat.commitFiles(ctx.ns, ctx.name, files.map(_._1), "local",
          schemaJson = Some(writeSchema.json)): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftCatalog.deleteStaged(ctx.tableDirAbs, opId, ctx.spark.sparkContext.hadoopConfiguration)
}

/** Per-task MoR delta: new data files with in-line stats + position-
  * delete files + the distinct data files the deletes reference. */
private[catalog] case class GraftDeltaFilesMessage(
    dataFiles: Seq[(String, Long, Map[String, (String, String)])],
    posDeleteFiles: Seq[(String, Long)],
    referenced: Set[String])
  extends WriterCommitMessage

/** The merge-on-read write: stage delta files, then ONE conditional
  * [[GraftCatalog.commitDeltaFiles]]. */
private[catalog] final class GraftDeltaWrite(ctx: GraftRowLevelContext,
                                             op: GraftDeltaOperation,
                                             rowSchema: StructType)
    extends org.apache.spark.sql.connector.write.DeltaWrite
    with org.apache.spark.sql.connector.write.DeltaBatchWrite {

  override def description(): String = op.description()
  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite = this

  private val opId = s"mor-${UUID.randomUUID().toString.take(8)}"

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    val tableSchema = ctx.cat.tableSchema(ctx.ns, ctx.name)
    // a delete-only delta may carry an empty row schema
    require(rowSchema.isEmpty ||
        tableSchema.forall(t => rowSchema.catalogString == t.catalogString),
      s"delta row schema ${rowSchema.simpleString} does not match table " +
        s"schema ${tableSchema.map(_.simpleString).getOrElse("<none>")}")
    val writeSchema = tableSchema.getOrElse(rowSchema)
    // physical column names in the staged files (see GraftCowWrite)
    new GraftDeltaWriterFactory(ctx.tableDirAbs, GraftCatalog.opPrefix(opId),
      GraftCatalog.physicalSchema(writeSchema).json,
      new SerializableConfiguration(ctx.spark.sparkContext.hadoopConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (head, _) = op.planned.getOrElse(throw new IllegalStateException(
      s"${op.description()}: delta write committed without a planned scan"))
    val ms = messages.toSeq.collect { case m: GraftDeltaFilesMessage => m }
    val data = ms.flatMap(_.dataFiles)
    val dels = ms.flatMap(_.posDeleteFiles)
    val referenced = ms.flatMap(_.referenced).toSet
    if (data.isEmpty && dels.isEmpty) return // matched nothing: no version
    head match {
      case Some(h) =>
        ctx.cat.commitDeltaFiles(ctx.ns, ctx.name, h,
          data.map(f => (f._1, f._2)), data.map(f => f._1 -> f._3).toMap,
          dels, referenced): Unit
      case None =>
        require(dels.isEmpty, "no head but position deletes present")
        ctx.cat.commitFiles(ctx.ns, ctx.name, data.map(_._1), "local",
          schemaJson = ctx.cat.tableSchema(ctx.ns, ctx.name).map(_.json)): Unit
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftCatalog.deleteStaged(ctx.tableDirAbs, opId, ctx.spark.sparkContext.hadoopConfiguration)
}

private[catalog] final class GraftDeltaWriterFactory(tableDirAbs: String,
                                                     opPrefix: String,
                                                     schemaJson: String,
                                                     conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new GraftDeltaDataWriter(tableDirAbs, opPrefix, partitionId, taskId,
      schemaJson, conf)
}

/** One task's delta writer: up to two lazily-opened parquet files —
  * inserted rows (table schema) and position deletes ((file_path, pos),
  * the commitDeletePositions file model). UPDATE arrives pre-split as
  * delete+insert. Deletes within a task are written in arrival order
  * (unsorted — graft's positional anti-join is order-insensitive; the
  * Iceberg spec's sort recommendation is an export-time nicety). */
private[catalog] final class GraftDeltaDataWriter(tableDirAbs: String,
                                                  opPrefix: String,
                                                  partitionId: Int,
                                                  taskId: Long,
                                                  schemaJson: String,
                                                  conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
  import org.apache.spark.sql.types.{LongType, StringType, StructField}

  private lazy val rowSchema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private val delSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  private var dataRel: String = _
  private var dataW: RowParquetWriter = _
  private var delRel: String = _
  private var delW: RowParquetWriter = _
  private val referenced = scala.collection.mutable.Set.empty[String]
  private val delRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)

  override def insert(row: InternalRow): Unit = {
    if (dataW == null) {
      dataRel = s"$opPrefix-part-$partitionId-$taskId.parquet"
      dataW = new RowParquetWriter(s"$tableDirAbs/$dataRel", rowSchema, conf.value)
    }
    dataW.write(row)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    if (delW == null) {
      delRel = s"$opPrefix-del-$partitionId-$taskId.parquet"
      delW = new RowParquetWriter(s"$tableDirAbs/$delRel", delSchema, conf.value)
    }
    val file = id.getUTF8String(0)
    require(file != null && !id.isNullAt(1),
      "delta delete with null lineage — the scanned rowId must be intact")
    referenced += file.toString
    delRow.update(0, file)
    delRow.update(1, id.getLong(1))
    delW.write(delRow)
  }

  override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit =
    throw new IllegalStateException(
      "updates are represented as delete+insert (representUpdateAsDeleteAndInsert)")

  override def commit(): WriterCommitMessage = {
    val data =
      if (dataW == null) Nil
      else { val f = dataW.close(); dataW = null
             Seq((dataRel, f.size, f.stats)) }
    val dels =
      if (delW == null) Nil
      else { val f = delW.close(); delW = null
             Seq((delRel, f.size)) }
    GraftDeltaFilesMessage(data, dels, referenced.toSet)
  }

  override def abort(): Unit = {
    if (dataW != null) { dataW.abort(); dataW = null }
    if (delW != null) { delW.abort(); delW = null }
  }
  override def close(): Unit = ()
}

private[catalog] final class GraftCowWriterFactory(tableDirAbs: String,
                                                   opPrefix: String,
                                                   schemaJson: String,
                                                   conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftCowDataWriter(tableDirAbs, opPrefix, partitionId, taskId,
      schemaJson, conf)
}

/** One task's writer: lazily opens a single parquet file on the first
  * row, so the (common at scale) empty partitions of a sparse rewrite
  * cost nothing. Task-attempt isolation comes from the taskId in the
  * file name + Spark's output commit coordinator; files from attempts
  * that never reached commit are unreferenced and fall to the orphan
  * sweep. */
private[catalog] final class GraftCowDataWriter(tableDirAbs: String,
                                                opPrefix: String,
                                                partitionId: Int,
                                                taskId: Long,
                                                schemaJson: String,
                                                conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {

  private lazy val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  private var rel: String = _
  private var w: RowParquetWriter = _

  override def write(row: InternalRow): Unit = {
    if (w == null) {
      rel = s"$opPrefix-part-$partitionId-$taskId.parquet"
      w = new RowParquetWriter(s"$tableDirAbs/$rel", schema, conf.value)
    }
    w.write(row)
  }

  override def commit(): WriterCommitMessage =
    if (w == null) GraftCowFilesMessage(Nil)
    else {
      val f = w.close()
      w = null
      GraftCowFilesMessage(Seq((rel, f.size, f.stats)))
    }

  override def abort(): Unit = if (w != null) { w.abort(); w = null }
  override def close(): Unit = ()
}

package graft.service

import java.util.UUID

import scala.jdk.CollectionConverters._

import graft.catalog.GraftCatalog
import graft.operators.{GcExecutor, ReadRouterOps}
import graft.sources.StorageOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._

/** The reference's application services re-expressed Spark-first
  * (SURVEY §2.4-§2.6, §3): multi-region write coordination, sync
  * orchestration, and routed reads over per-region GraftCatalogs.
  *
  * Architecture (vs the reference's ZIO service mesh):
  *  - each "region" is an independent catalog + storage root (a directory
  *    locally; a bucket+catalog in production);
  *  - control-plane state is EVENT-SOURCED into system tables
  *    (`_system.sync_events`, `consistency_tokens`, `approvals` in the
  *    primary region): every status change appends a row. Appends are
  *    atomic catalog commits, so writers never lose updates — this
  *    replaces the reference's Ref[Map] CAS (InMemorySyncAdapter);
  *  - current state = the latest row per key, served from an incremental
  *    driver view of each log ([[SystemLogView]]): a read applies only the
  *    manifests appended since the view's last one, on the driver with no
  *    Spark job. Compaction writes the view's fold as the log's
  *    checkpoint and expires the versions it replaced, so `_system` time
  *    travel ends at the last checkpoint;
  *  - the data plane (file copy) is exists-guarded for idempotence
  *    (SyncOrchestrator.scala:114-118) and follows the one
  *    metadata-scale rule ([[GraftCatalog.driverScale]]): a batch whose
  *    bytes fit one target file copies on the driver pool, a larger one
  *    runs distributed (StorageOps.distributedCopyStats);
  *  - reads route by registry + health scoring (ReadRouterOps — exact
  *    reference weights) with injectable region failure for testing
  *    (GeoDistributedSystemE2ESpec's simulateRegionFailure pattern).
  */
final class GeoReplicationService(spark: SparkSession,
                                  val regions: Map[String, GraftCatalog],
                                  primaryRegion: String) {
  import spark.implicits._

  private val sys = regions(primaryRegion)
  sys.createTable("_system", "sync_events")
  sys.createTable("_system", "registry")

  /** System tables are ONE CAS point shared by every writer thread — a
    * deeper retry budget than data tables (which only race with
    * themselves) keeps concurrent multi-table loads from spuriously
    * failing; jittered backoff lives in the catalog's CAS loop. */
  private val SystemRetries = 30

  /** E3 counter/gauge surface, fed from the copy paths' counts. */
  val metrics = new graft.operators.Metrics

  /** Regions currently failing storage probes (test injection point). */
  @volatile var unavailableRegions: Set[String] = Set.empty

  /** Monotonic append sequence: two appends can land in the same
    * millisecond, so every latest-row fold orders by (ts, seq) — a
    * wall-clock tie must never let a stale status shadow a newer row.
    * (On a multi-driver deployment the catalog commit seq plays this
    * role; here one driver owns the system tables.) */
  private val appendSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Declared schemas of the system event logs — a read BEFORE the first
    * append must return an empty TYPED frame, not the zero-column
    * emptyDataFrame a version-less catalog table yields (every window /
    * filter on it would throw UNRESOLVED_COLUMN on a cold start: a
    * worker polling before the first write, a read routed before the
    * first registration). */
  private[graft] val systemSchemas: Map[String, org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (n, t) => StructField(n, t) })
    Map(
      "sync_events" -> st("event_id" -> StringType, "table_entry" -> StringType,
        "commit_id" -> StringType, "event_type" -> StringType,
        "target_region" -> StringType, "status" -> StringType,
        "ts" -> LongType, "seq" -> LongType),
      "registry" -> st("entry" -> StringType, "region" -> StringType,
        "status" -> StringType, "updated_at" -> LongType),
      "consistency_tokens" -> st("table_entry" -> StringType, "region" -> StringType,
        "high_watermark_ms" -> LongType, "ts" -> LongType, "seq" -> LongType),
      "approvals" -> st("commit_id" -> StringType, "region" -> StringType,
        "approved" -> BooleanType, "ts" -> LongType, "seq" -> LongType,
        "deadline_ms" -> LongType))
  }

  /** Append `rows` to system log `name` under its declared schema, as a
    * driver-local frame the catalog stages with no Spark job. */
  private def append(name: String, rows: Seq[Row]): Unit =
    sys.commitAppend("_system", name, localDf(name, rows), maxRetries = SystemRetries): Unit

  /** Rows of a system log as a typed driver-local frame. */
  private def localDf(name: String, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, systemSchemas(name))

  private def sysRead(name: String): DataFrame = {
    val df = sys.read("_system", name)
    if (df.columns.nonEmpty) df
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], systemSchemas(name))
  }

  // ---------------- registry (R1-R6) ----------------

  def registerTable(ns: String, table: String, region: String): Unit = {
    append("registry", Seq(Row(s"$ns.$table", region, "Active", System.currentTimeMillis())))
    // atomic bump+clear: the epoch and the cached map live in ONE
    // reference, so a reader can never install a map scanned before this
    // invalidation (its CAS below compares the whole (epoch, map) pair)
    registryCache.updateAndGet { case (e, _) => (e + 1, None) }: Unit
  }

  def registry: DataFrame = sysRead("registry")

  /** S8 getStorageLocation: the storage root serving a region. */
  def storageLocation(region: String): Option[String] =
    regions.get(region).map(_.warehouse)

  // tableRegions runs on EVERY coordinateWrite — without a cache each
  // write pays a full registry scan + collect. The registry is metadata
  // scale (entries × regions), so one collect per invalidation amortizes
  // to a driver map lookup per write.
  // (epoch, cached map) in one atomic cell: install is a compareAndSet
  // against the exact pre-scan state, so an invalidation that lands at
  // ANY point during the scan (epoch bumped, map cleared) makes the
  // install fail — a stale snapshot can never overwrite an invalidation.
  private val registryCache =
    new java.util.concurrent.atomic.AtomicReference[(Long, Option[Map[String, Seq[String]]])](
      (0L, None))

  private def registryMap: Map[String, Seq[String]] = {
    val before = registryCache.get()
    before._2.getOrElse {
      val m = registry.select("entry", "region").distinct().collect()
        .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSeq.sorted).toMap
      registryCache.compareAndSet(before, (before._1, Some(m))): Unit
      m
    }
  }

  def tableRegions(ns: String, table: String): Seq[String] =
    registryMap.getOrElse(s"$ns.$table", Seq.empty)

  // ---------------- sync events (Y1-Y8, event-sourced) ----------------

  private def appendEvents(rows: Seq[(String, String, String, String, String, String, Long)]): Unit =
    append("sync_events",
      rows.map(r => Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7, appendSeq.getAndIncrement())))

  // ---------------- event-log views and compaction ----------------
  // The _system tables are append-only event logs: every status change is
  // a new row, and current state is one row per key. Each log's driver
  // view holds that state and folds new rows in as they are appended;
  // compaction replaces the history with the view's fold (checkpointed
  // rows keep their original ts/seq, so newer tail appends still win)
  // and expires the versions it replaced.

  /** The row of `a` and `b` that orders last on the Long columns `by`
    * (the held row `a` on a full tie). */
  private def latestOf(by: String*)(a: Row, b: Row): Row =
    if (by.iterator.map(c => java.lang.Long.compare(b.getAs[Long](c), a.getAs[Long](c)))
          .find(_ != 0).exists(_ > 0)) b
    else a

  private def view(name: String, keys: String*)(combine: (Row, Row) => Row) =
    name -> new SystemLogView(sys, name, systemSchemas(name),
      r => keys.map(r.getAs[Any]), combine, SystemRetries)

  /** Each compactable log's view, with its fold. */
  private val views: Map[String, SystemLogView] = Map(
    // current status per event = its latest row (same-millisecond
    // appends resolve by the monotonic seq)
    view("sync_events", "event_id")(latestOf("ts", "seq")),
    // the MAX watermark per (table, region) — NOT the latest row: a stale
    // advance appended late (see consistencyTokens) must never regress
    // the mark
    view("consistency_tokens", "table_entry", "region")(
      latestOf("high_watermark_ms", "ts", "seq")),
    // the latest vote per (commit, region). The voting deadline lives on
    // the REQUEST row, which the latest vote shadows — the key's MAX
    // deadline rides on the held row (approvalStatus' extended-window
    // semantics), so the TimedOut computation survives
    view("approvals", "commit_id", "region") { (a, b) =>
      val latest = latestOf("ts", "seq")(a, b)
      val deadline = Seq(a, b)
        .flatMap(r => Option(r.getAs[java.lang.Long]("deadline_ms")).map(_.longValue))
        .maxOption.map(Long.box).orNull
      new GenericRowWithSchema(
        latest.toSeq.updated(latest.fieldIndex("deadline_ms"), deadline).toArray, latest.schema)
    })

  /** A compactable log's current state, one row per key. */
  private[graft] def viewRows(name: String): Seq[Row] = views(name).rows

  private def events(status: String, region: String): Seq[Row] =
    viewRows("sync_events").filter(r =>
      r.getAs[String]("status") == status && r.getAs[String]("target_region") == region)

  /** Current status per event: its latest appended row. */
  def eventLog: DataFrame = localDf("sync_events", viewRows("sync_events"))

  def pendingEvents(region: String): DataFrame =
    localDf("sync_events", events("Pending", region))

  def failedEvents(region: String): DataFrame =
    localDf("sync_events", events("Failed", region))

  /** Replace version `cur`'s history of log `name` with its fold, rebasing
    * over the manifests appended since (an event append racing the
    * compaction survives it, and the compaction still lands), then expire
    * every older version. Runs no Spark job. Returns false (the caller
    * may retry) when `cur` was rewritten by a racing compaction or is
    * already expired. */
  private[graft] def compactSystemAt(name: String, cur: Long): Boolean =
    views(name).compactAt(cur)

  /** Physical row count of a `_system` log (ops introspection: how much
    * history a scan actually reads — compaction drops it to live keys). */
  def rawSystemCount(name: String): Long = sysRead(name).count()

  /** Checkpoint `_system.sync_events` to its live rows (one per event). */
  def compactSyncEvents(): Boolean = views("sync_events").compact()

  /** Checkpoint consistency tokens to the MAX watermark per (table,
    * region). */
  def compactConsistencyTokens(): Boolean = views("consistency_tokens").compact()

  /** Checkpoint approvals to the latest vote per (commit, region),
    * carrying each key's voting deadline. */
  def compactApprovals(): Boolean = views("approvals").compact()

  /** Y8: only Failed events may be reset to Pending. */
  def retryFailedEvents(region: String): Int = {
    val failed = events("Failed", region)
    if (failed.nonEmpty) appendEvents(failed.map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4),
       "Pending", System.currentTimeMillis())))
    failed.length
  }

  // ---------------- write path (W1) ----------------

  case class WriteResult(commitId: String, seq: Long, syncEvents: Int)

  /** The coordinateWrite protocol (WriteCoordinator.scala:35-76):
    * approval (single-writer catalog = auto-approved, as the only
    * reference impl does) → local commit → metadata+data sync event
    * fan-out to every other region hosting the table. */
  def coordinateWrite(ns: String, table: String, df: DataFrame,
                      sourceRegion: String): WriteResult = {
    val snap = regions(sourceRegion).commitAppend(ns, table, df, sourceRegion)
    val targets = tableRegions(ns, table).filter(_ != sourceRegion)
    val now = System.currentTimeMillis()
    val events = targets.flatMap { tr =>
      Seq("MetadataSync", "DataSync").map(t =>
        (s"evt-${UUID.randomUUID()}", s"$ns.$table", snap.commitId, t, tr, "Pending", now))
    }
    if (events.nonEmpty) appendEvents(events)
    advanceWatermark(s"$ns.$table", sourceRegion, snap.timestampMs)
    WriteResult(snap.commitId, snap.seq, events.size)
  }

  // ---------------- sync path (Y9-Y13) ----------------

  private case class PreparedEvent(eventId: String, entry: String, commitId: String,
                                   eventType: String, status: Option[String],
                                   files: Seq[String] = Nil, ns: String = "",
                                   table: String = "", watermarkMs: Long = 0L,
                                   manifest: Seq[(String, String, String)] = Nil,
                                   schemaJson: Option[String] = None,
                                   srcSeq: Long = 0L, bytes: Long = 0L)

  /** A replica version's commit id is this prefix + its source commit's. */
  private val ReplicaIdPrefix = "sync-"

  /** Copy batches launched by processPendingEvents — test observability:
    * a whole pending backlog must cost ONE copy batch, not O(events). */
  @volatile private[graft] var copyBatches: Int = 0

  /** Process every pending event for a region: metadata sync ensures the
    * replica table + registry entry; data sync copies exactly the files
    * ADDED by the commit (snapshot-diff semantics), then CAS-commits them
    * on the replica (the t1→t6 DAG of the design doc). The batch comes
    * straight from the `sync_events` view's rows.
    *
    * Data-plane parallelism (reference SyncOrchestrator.scala:29
    * `ZIO.foreachPar`): ALL DataSync manifests in the batch form ONE
    * exists-guarded copy batch (per-file failures tolerated; a file whose
    * destination does not end at the source's length fails its event).
    * Which side copies follows the metadata-scale rule
    * ([[GraftCatalog.driverScale]]): when the batch's bytes fit one
    * target file of every replica table in it, the files copy on the
    * driver's pool and each event's verdict comes from the lengths the
    * copy itself reports — a steady-state batch runs no Spark job at all.
    * A larger batch runs one distributed copy job and one distributed
    * verification probe, so a bulk copy never reaches the driver.
    *
    * Control-plane parallelism: table creation/registration runs ONCE
    * per distinct table (tables << events), which makes the per-event
    * prep read-only — it fans out across the driver pool, as do the
    * phase-3 replica commits (parallel ACROSS tables; sequential WITHIN
    * a table, where version parent chains impose order). Watermark
    * advances batch into a single `_system` append after the fan-out,
    * so the shared consistency-token CAS never contends — and a
    * watermark failure can no longer fire W8 compensation against files
    * a SUCCESSFUL commit already owns (previously both lived in one
    * try). A 100k-event backlog therefore costs O(tables) sequential
    * CAS chains + 2 system appends, not 100k driver-serial round trips.
    *
    * Replica retention, one batch deep: once the batch's statuses are
    * appended, each synced table's versions below the head phase 3 found
    * are expired ([[GraftCatalog.expireBefore]]). They came from earlier
    * batches whose events are Completed, so no replay needs their
    * `sync-<id>` for the funnel's replay probe; a crash before the status
    * append skips the expiry. The batch's own versions stay in the
    * replica's snapshot list until the region's next batch. Expiry never
    * reaches a version the region committed itself nor one whose event
    * did not complete in this batch, and the catalog's expiry never
    * removes the promoted version ([[verifyAndPromote]]) that
    * [[GraftCatalog.readVisible]] reads, nor any version above it.
    * Returns (completed, failed). */
  def processPendingEvents(region: String): (Int, Int) = {
    val pending = events("Pending", region)
      .map(r => (r.getAs[String]("event_id"), r.getAs[String]("table_entry"),
        r.getAs[String]("commit_id"), r.getAs[String]("event_type")))
      .sortBy(_._1)
    val regionDown = unavailableRegions.contains(region)

    // phase 0: per-TABLE ensure — create/register each distinct table
    // exactly once, sequentially (tables << events). This keeps the
    // registry/catalog CAS free of same-table races and leaves the
    // per-event prep below pure reads.
    val ensured: Map[String, Option[Throwable]] =
      if (regionDown) Map.empty
      else pending.map(_._2).distinct.map { entry =>
        entry -> (try {
          val Array(ns, table) = entry.split("\\.", 2)
          if (!regions(region).tableExists(ns, table)) regions(region).createTable(ns, table)
          if (!tableRegions(ns, table).contains(region)) registerTable(ns, table, region)
          None
        } catch { case e: Exception => Some(e) })
      }.toMap

    // phase 1: read-only per-event prep (snapshot lookup + Y14 diff),
    // fanned out across the driver pool — the reference's foreachPar.
    // Catalog reads are thread-safe (immutable files + concurrent caches).
    import scala.collection.parallel.CollectionConverters._
    val preps: Seq[PreparedEvent] = pending.toSeq.par.map { case (eventId, entry, commitId, eventType) =>
      try {
        if (regionDown) throw new IllegalStateException(s"region $region unavailable")
        ensured(entry).foreach(e => throw e)
        val Array(ns, table) = entry.split("\\.", 2)
        eventType match {
          case "MetadataSync" =>
            PreparedEvent(eventId, entry, commitId, eventType, Some("Completed"))
          case "DataSync" =>
            val src = findSourceCatalog(ns, table, commitId)
            val snap = src.byCommitId(ns, table, commitId).get
            // Y14 delta straight from the commit's ADDED manifests — reads
            // O(this commit's files), never the version's full file set
            val added = src.addedFileEntries(ns, table, snap)
            PreparedEvent(eventId, entry, commitId, eventType, None, added.map(_._1), ns,
              table, snap.timestampMs,
              added.map { case (f, _) => (eventId,
                src.tablePath(ns, table).resolve(f).toString,
                regions(region).tablePath(ns, table).resolve(f).toString) },
              snap.schemaJson, snap.seq, added.map(_._2).sum)
          case other => throw new IllegalArgumentException(s"unknown event type $other")
        }
      } catch { case _: Exception =>
        PreparedEvent(eventId, entry, commitId, eventType, Some("Failed"))
      }
    }.seq

    // phase 2: ONE copy batch for the whole backlog → per-event
    // verdicts, size-verified, not existence-only: a truncated dst from a
    // mid-copy crash must fail the event, not silently complete it
    val dataSyncs = preps.filter(_.status.isEmpty)
    val okEvents: Set[String] = if (dataSyncs.isEmpty) Set.empty else {
      copyBatches += 1
      val manifest = dataSyncs.flatMap(_.manifest)
      val bytes = dataSyncs.map(_.bytes).sum
      val onDriver = dataSyncs.map(p => (p.ns, p.table)).distinct
        .forall { case (ns, t) => regions(region).driverScale(ns, t, bytes) }
      def copied(files: Long, bytes: Long): Unit = {
        metrics.increment("sync.files_copied", files)
        metrics.increment("sync.bytes_copied", bytes)
      }
      val verified =
        if (onDriver) {
          val (verdicts, files, bytes) =
            StorageOps.localCopyVerify(manifest, spark.sparkContext.hadoopConfiguration)
          copied(files, bytes)
          verdicts.groupBy(_._1).collect { case (e, vs) if vs.forall(_._2) => e }.toSet
        } else {
          val df = manifest.toDF("event_id", "src_path", "dst_path")
          val (files, bytes) = StorageOps.distributedCopyStats(df, tolerant = true)
          copied(files, bytes)
          StorageOps.copyVerifyProbe(df, "src_path", "dst_path", "event_id")
            .groupBy(col("event_id"))
            .agg(min(col("ok").cast("int")).as("all_ok"))
            .filter(col("all_ok") === 1)
            .select("event_id").as[String].collect().toSet
        }
      // events whose snapshot diff was empty are trivially complete
      verified ++ dataSyncs.filter(_.manifest.isEmpty).map(_.eventId)
    }

    // phase 3: replica commits — parallel ACROSS tables, in-order WITHIN
    // a table (version parent chains). Watermark advances are collected
    // and appended ONCE after the fan-out: the shared consistency-token
    // CAS never contends, and a watermark append failure can no longer
    // fail (or W8-compensate!) an event whose commit already succeeded.
    val now = System.currentTimeMillis()
    // replica retention: the (seq, commit id) versions of each table this
    // batch syncs, as phase 3 finds them
    val found = dataSyncs.map(p => (p.ns, p.table)).distinct.map { case (ns, t) =>
      (ns, t) -> regions(region).snapshots(ns, t).map(v => (v.seq, v.commitId))
    }.filter(_._2.nonEmpty)
    val results = preps.groupBy(_.entry).toSeq.par.map { case (_, evs0) =>
      // replay in SOURCE commit order — wall-clock commit ts first (the
      // only cross-source-comparable key), then the per-source snapshot
      // seq, never event-id (UUID) order: an out-of-order replay would
      // apply schema evolution backwards and regress the watermark
      val evs = evs0.sortBy(p => (p.watermarkMs, p.srcSeq, p.eventId))
      // HALT the table at the first failed DataSync: committing a LATER
      // commit over the gap would advance the watermark past missing
      // data and replay out of order when the gap retries. Skipped
      // events are marked Failed so one retry re-pends the table's whole
      // suffix and replays it in order.
      var halted = false
      evs.map { p =>
        val (status, wm) = p.status match {
          case Some(st) => (st, None)
          case None if halted && p.eventType == "DataSync" => ("Failed", None)
          case None if okEvents.contains(p.eventId) =>
            try {
              // commitId makes a replayed event (worker died after the
              // commit, before the status append) a no-op duplicate
              // instead of a second version
              regions(region).commitFiles(p.ns, p.table, p.files, sourceRegion = region,
                schemaJson = p.schemaJson, commitId = Some(ReplicaIdPrefix + p.commitId))
              ("Completed", Some(p.entry -> p.watermarkMs))
            } catch {
              case _: GraftCatalog.DuplicateCommitException =>
                ("Completed", Some(p.entry -> p.watermarkMs))
              case _: Exception =>
                // W8 compensation: the copy landed but the replica commit
                // failed — delete the staged files so nothing dangles
                // uncommitted (re-copy on retry is cheap and idempotent).
                // Never touch files a PRIOR successful commit references
                // (a reprocessed event shares them); on any doubt skip —
                // the orphan sweep is the backstop.
                if (p.manifest.nonEmpty) {
                  val staged = p.manifest.map(_._3)
                  val cat = regions(region)
                  val referenced =
                    try cat.latest(p.ns, p.table)
                      .map(s => cat.dataFiles(p.ns, p.table, s)).getOrElse(Seq.empty)
                      .map(f => cat.tablePath(p.ns, p.table).resolve(f).toString)
                      .toSet
                    catch { case _: Exception => staged.toSet }
                  val deletable = staged.filterNot(referenced)
                  if (deletable.nonEmpty)
                    GcExecutor.attemptDeletes(deletable.toDF("path")).count(): Unit
                }
                ("Failed", None)
            }
          case None => ("Failed", None)
        }
        if (status == "Failed" && p.eventType == "DataSync") halted = true
        metrics.increment(s"sync.events_${status.toLowerCase}")
        ((p.eventId, p.entry, p.commitId, p.eventType, region, status, now), wm)
      }
    }.seq.flatten
    val updates = results.map(_._1)
    // one watermark row per table at the MAX completed commit ts —
    // latest-row-wins semantics must never see an older commit last
    val watermarks = results.flatMap(_._2)
      .groupBy(_._1).map { case (entry, ws) => entry -> ws.map(_._2).max }.toSeq
    if (watermarks.nonEmpty)
      append("consistency_tokens", watermarks.map { case (entry, wmMs) =>
        Row(entry, region, wmMs, System.currentTimeMillis(), appendSeq.getAndIncrement()) })
    val ok = updates.count(_._6 == "Completed")
    if (updates.nonEmpty) appendEvents(updates)
    // retention: expire below the head phase 3 found, or below the first
    // version another region may sync from (the region's own) or a replay
    // may still probe (its event did not complete here); the catalog's
    // expiry itself keeps the promoted version a visible read serves
    val unfinished = updates.filter(_._6 != "Completed").map(u => ReplicaIdPrefix + u._3).toSet
    found.foreach { case ((ns, t), versions) =>
      val keepFrom = versions.init.indexWhere { case (_, id) =>
        !id.startsWith(ReplicaIdPrefix) || unfinished(id) }
      val cut = if (keepFrom < 0) versions.size - 1 else keepFrom
      if (cut > 0) regions(region).expireBefore(ns, t, versions(cut)._1)
    }
    (ok, updates.size - ok)
  }

  // ---------------- consistency tokens (G9 + Q9) ----------------
  // After a replica lands a commit, its watermark advances to the source
  // commit timestamp; freshness-constrained reads only consider regions
  // whose watermark covers the requested timestamp (v1 ReadRouter.java:21).

  sys.createTable("_system", "consistency_tokens")

  private[graft] def advanceWatermark(entry: String, region: String, watermarkMs: Long): Unit =
    append("consistency_tokens",
      Seq(Row(entry, region, watermarkMs, System.currentTimeMillis(), appendSeq.getAndIncrement())))

  /** High-water mark per (table, region) — the MAX over all appended
    * tokens, NOT the latest row: a stale advance landing late (a retried
    * old event completing after newer commits synced) must never regress
    * the mark. A high-water mark is a max by definition; latest-row-wins
    * is only correct for status-like state. */
  def consistencyTokens: DataFrame =
    localDf("consistency_tokens", viewRows("consistency_tokens"))
      .select("table_entry", "region", "high_watermark_ms")

  /** Q9: regions able to serve `ns.table` at `requiredMs` freshness. The
    * writing source region always qualifies. */
  def freshRegions(ns: String, table: String, requiredMs: Long): Seq[String] = {
    val entry = s"$ns.$table"
    viewRows("consistency_tokens")
      .filter(r => r.getAs[String]("table_entry") == entry &&
        r.getAs[Long]("high_watermark_ms") >= requiredMs)
      .map(_.getAs[String]("region")).sorted
  }

  private def findSourceCatalog(ns: String, table: String, commitId: String): GraftCatalog =
    regions.values.find(_.byCommitId(ns, table, commitId).isDefined)
      .getOrElse(throw new IllegalStateException(s"commit $commitId not found in any region"))

  // ---------------- commit gate (W2/W3/W4) ----------------
  // Explicit per-region voting (the v2 InMemoryCommitGateAdapter surface):
  // votes append to a system table; the quorum decision is CommitGate's
  // bool_and aggregate over the latest vote per (commit, region).

  sys.createTable("_system", "approvals")

  /** W2: ask every region to vote. `timeoutMs` (the reference's timeout
    * variant) sets a voting deadline — unanswered regions past it turn
    * the request TimedOut. */
  def requestCommitApproval(commitId: String, regionsAsked: Seq[String],
                            timeoutMs: Option[Long] = None): Unit = {
    val deadline = timeoutMs.map(System.currentTimeMillis() + _)
    append("approvals", regionsAsked.map(r => Row(commitId, r, null, System.currentTimeMillis(),
      appendSeq.getAndIncrement(), deadline.map(Long.box).orNull)))
  }

  def vote(commitId: String, region: String, approve: Boolean): Unit =
    append("approvals", Seq(Row(commitId, region, approve, System.currentTimeMillis(),
      appendSeq.getAndIncrement(), null)))

  /** The latest vote per region of `commitId`, each carrying its key's
    * max deadline. */
  private def latestVotes(commitId: String): Seq[Row] =
    viewRows("approvals").filter(_.getAs[String]("commit_id") == commitId)

  /** W2/W4 lifecycle: Approved (all true) / Rejected (any false) /
    * TimedOut (unanswered past the deadline) / Pending. */
  def approvalStatus(commitId: String, nowMs: Long = System.currentTimeMillis()): String = {
    val latest = latestVotes(commitId)
    val votes = latest.map(r => Option(r.getAs[java.lang.Boolean]("approved")).map(_.booleanValue))
    if (votes.isEmpty) return "Pending"
    // MAX over the commit's recorded deadlines: a re-request that extends
    // the voting window (or asks another region with a fresh one) must
    // take effect — min would pin the commit to the earliest deadline
    // ever written and turn it sticky-TimedOut
    val deadline = latest.flatMap(r => Option(r.getAs[java.lang.Long]("deadline_ms")))
      .map(_.longValue).maxOption
    if (votes.forall(_.contains(true))) "Approved"
    else if (votes.exists(_.contains(false))) "Rejected"
    else if (deadline.exists(nowMs > _)) "TimedOut"
    else "Pending"
  }

  /** W4: all asked regions answered AND all answered true. */
  def isCommitApproved(commitId: String): Boolean = {
    val decided = graft.operators.CommitGate.quorum(
      localDf("approvals", latestVotes(commitId))
        .withColumn("approved", coalesce(col("approved"), lit(false))))
    decided.select("approved").as[Boolean].collect().headOption.getOrElse(false)
  }

  // ---------------- verify + promote (Y16 + C13) ----------------

  /** The v1 happy-path tail: verify every file of the replica snapshot
    * exists with the right size (reconciliation join), then atomically
    * promote visibility. Throws if any defect — no partial visibility —
    * or if the version was expired meanwhile
    * ([[GraftCatalog.setVisibility]] refuses it). */
  def verifyAndPromote(ns: String, table: String, region: String,
                       seq: Long, visibleAtMs: Long): Unit = {
    val cat = regions(region)
    require(cat.snapshots(ns, table).exists(_.seq == seq),
      s"no version $seq of $ns.$table in $region")
    // expected sizes come from the snapshot log (recorded at commit time),
    // never from the destination filesystem being verified
    val manifest = cat.filesTable(ns, table, seq)
    // listing paths are fully qualified (scheme + authority); strip the
    // QUALIFIED table root to get manifest-relative paths
    val qualifiedRoot = org.apache.hadoop.fs.Path.getPathWithoutSchemeAndAuthority(
      new org.apache.hadoop.fs.Path(cat.tablePath(ns, table).toString)).toString
    val listing = StorageOps.listing(spark, cat.tablePath(ns, table).toString)
      .withColumn("path", regexp_replace(col("path"), ".*" +
        java.util.regex.Pattern.quote(qualifiedRoot + "/"), ""))
      .select("path", "size_bytes")
    if (!graft.operators.StateReconciler.promotionSafe(manifest, listing))
      throw new IllegalStateException(s"verification failed for $ns.$table@$seq in $region")
    cat.setVisibility(ns, table, seq, visibleAtMs)
  }

  // ---------------- read path (Q1-Q4) ----------------

  case class ReadLocation(region: String, score: Double)

  /** Q1 routeRead: registry lookup → preferred-if-healthy → weighted
    * scoring argmax (exact reference semantics via ReadRouterOps). */
  def routeRead(ns: String, table: String,
                preferredRegion: Option[String] = None): ReadLocation = {
    val hosts = tableRegions(ns, table)
    require(hosts.nonEmpty, s"TableNotFound: $ns.$table in no region")
    preferredRegion.filter(r => hosts.contains(r) && !unavailableRegions.contains(r)) match {
      case Some(r) => ReadLocation(r, 1.0)
      case None =>
        // driver-side argmax (selectOptimalLocal): a serving-loop read
        // must not pay a Spark job to rank a handful of regions
        val best = ReadRouterOps.selectOptimalLocal(hosts.map(r =>
          (r, !unavailableRegions.contains(r), !unavailableRegions.contains(r))))
        require(best.nonEmpty, s"no suitable region for $ns.$table")
        ReadLocation(best.get._1, best.get._2)
    }
  }

  /** Routed read: resolve the region, then an ordinary catalog read. */
  def readRouted(ns: String, table: String,
                 preferredRegion: Option[String] = None): DataFrame = {
    val loc = routeRead(ns, table, preferredRegion)
    regions(loc.region).read(ns, table)
  }
}

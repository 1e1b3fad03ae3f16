package graft.service

import java.util.UUID

import graft.catalog.GraftCatalog
import graft.operators.{GcExecutor, ReadRouterOps}
import graft.sources.StorageOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's application services re-expressed Spark-first
  * (SURVEY §2.4-§2.6, §3): multi-region write coordination, sync
  * orchestration, and routed reads over per-region GraftCatalogs.
  *
  * Architecture (vs the reference's ZIO service mesh):
  *  - each "region" is an independent catalog + storage root (a directory
  *    locally; a bucket+catalog in production);
  *  - control-plane state is EVENT-SOURCED into a system table
  *    (`_system.sync_events` in the primary region): every status change
  *    appends a row; current status = latest row per event (a ranked
  *    window — the cat_latest pattern). Appends are atomic catalog
  *    commits, so workers on different executors never lose updates —
  *    this replaces the reference's Ref[Map] CAS (InMemorySyncAdapter);
  *  - the data plane (file copy) runs distributed via
  *    StorageOps.distributedCopy with an exists-guard for idempotence
  *    (SyncOrchestrator.scala:114-118);
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

  /** E3 counter/gauge surface, fed from distributed-stage accumulators. */
  val metrics = new graft.operators.Metrics

  /** Regions currently failing storage probes (test injection point). */
  @volatile var unavailableRegions: Set[String] = Set.empty

  /** Monotonic append sequence: two appends can land in the same
    * millisecond, so every latest-row window orders by (ts, seq) — a
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
  private val systemSchemas: Map[String, org.apache.spark.sql.types.StructType] = {
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

  private def sysRead(name: String): DataFrame = {
    val df = sys.read("_system", name)
    if (df.columns.nonEmpty) df
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], systemSchemas(name))
  }

  // ---------------- registry (R1-R6) ----------------

  def registerTable(ns: String, table: String, region: String): Unit = {
    sys.commitAppend("_system", "registry",
      Seq((s"$ns.$table", region, "Active", System.currentTimeMillis()))
        .toDF("entry", "region", "status", "updated_at"), maxRetries = SystemRetries)
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
    sys.commitAppend("_system", "sync_events",
      rows.map(r => (r._1, r._2, r._3, r._4, r._5, r._6, r._7, appendSeq.getAndIncrement()))
        .toDF("event_id", "table_entry", "commit_id", "event_type", "target_region",
              "status", "ts", "seq"), maxRetries = SystemRetries)

  /** Current status per event = latest appended row (ranked window;
    * same-millisecond appends resolve by the monotonic seq). */
  def eventLog: DataFrame = latestRows(sysRead("sync_events"), Seq("event_id"))

  def pendingEvents(region: String): DataFrame =
    eventLog.filter(col("status") === "Pending" && col("target_region") === region)

  def failedEvents(region: String): DataFrame =
    eventLog.filter(col("status") === "Failed" && col("target_region") === region)

  // ---------------- event-log compaction ----------------
  // The _system tables are append-only event logs: every status change is
  // a new row and reads window down to the latest row per key — so the
  // history (and every read's scan) grows forever. Compaction replaces
  // the history with its latest-row checkpoint: subsequent reads scan
  // O(live keys) + the post-checkpoint tail, and the window computation
  // is UNCHANGED (checkpointed rows keep their original ts/seq, so newer
  // tail appends still win the ranking).

  /** Latest row per `keys` of `log`, FULL original schema (ts/seq
    * retained — they order the checkpoint against post-compaction tail
    * appends). */
  private def latestRows(log: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("ts").desc, col("seq").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Each compactable log's checkpoint, as a function of the history it
    * replaces. */
  private val checkpoints: Map[String, DataFrame => DataFrame] = Map(
    "sync_events" -> { log => latestRows(log, Seq("event_id")) },
    // the MAX watermark per (table, region) — NOT the latest row: a stale
    // advance appended late (see consistencyTokens) would otherwise
    // become the checkpoint and silently regress the mark
    "consistency_tokens" -> { log =>
      val w = Window.partitionBy(col("table_entry"), col("region"))
        .orderBy(col("high_watermark_ms").desc, col("ts").desc, col("seq").desc)
      log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    },
    // the latest vote per (commit, region). The voting deadline lives on
    // the REQUEST row, which the latest vote shadows — carry the key's
    // MAX deadline onto the checkpoint row (matching approvalStatus'
    // extended-window semantics) so the TimedOut computation survives
    "approvals" -> { log =>
      val deadlines = log.groupBy("commit_id", "region").agg(max("deadline_ms").as("_dl"))
      latestRows(log, Seq("commit_id", "region")).drop("deadline_ms")
        .join(deadlines, Seq("commit_id", "region"), "left")
        .withColumnRenamed("_dl", "deadline_ms")
    })

  /** Replace `name`'s history up to its current version with that
    * version's checkpoint. */
  private def compactSystem(name: String): Boolean =
    sys.latest("_system", name).forall(s => compactSystemAt(name, s.seq))

  /** Replace version `cur`'s history with its checkpoint, computed from
    * `cur` itself (`readVersion`), and rebase: the commit keeps every
    * manifest appended since `cur` after the checkpoint's, so an event
    * append racing the compaction survives it and the compaction still
    * lands. It aborts (returns false — the caller may retry) only when
    * `cur`'s manifests were rewritten meanwhile (a racing compaction) or
    * a delete manifest was added since. */
  private[graft] def compactSystemAt(name: String, cur: Long): Boolean =
    try {
      sys.commitReplace("_system", name,
        checkpoints(name)(sys.readVersion("_system", name, cur)),
        maxRetries = SystemRetries, rebaseOn = Some(cur))
      true
    } catch { case _: java.util.ConcurrentModificationException => false }

  /** Physical row count of a `_system` log (ops introspection: how much
    * history a read actually scans — compaction drops it to live keys). */
  def rawSystemCount(name: String): Long = sysRead(name).count()

  /** Checkpoint `_system.sync_events` to its live rows (one per event). */
  def compactSyncEvents(): Boolean = compactSystem("sync_events")

  /** Checkpoint consistency tokens to the MAX watermark per (table,
    * region). */
  def compactConsistencyTokens(): Boolean = compactSystem("consistency_tokens")

  /** Checkpoint approvals to the latest vote per (commit, region),
    * carrying each key's voting deadline. */
  def compactApprovals(): Boolean = compactSystem("approvals")

  /** Y8: only Failed events may be reset to Pending. */
  def retryFailedEvents(region: String): Int = {
    val failed = failedEvents(region)
      .select("event_id", "table_entry", "commit_id", "event_type", "target_region")
      .collect()
    if (failed.nonEmpty) appendEvents(failed.toSeq.map(r =>
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
                                   srcSeq: Long = 0L)

  /** Copy batches launched by processPendingEvents — test observability:
    * a whole pending backlog must cost O(1) copy jobs, not O(events). */
  @volatile private[graft] var copyBatches: Int = 0

  /** Process every pending event for a region: metadata sync ensures the
    * replica table + registry entry; data sync copies exactly the files
    * ADDED by the commit (snapshot-diff semantics), then CAS-commits them
    * on the replica (the t1→t6 DAG of the design doc).
    *
    * Data-plane parallelism (reference SyncOrchestrator.scala:29
    * `ZIO.foreachPar`, Spark-shaped): ALL DataSync manifests in the batch
    * union into ONE distributed exists-guarded copy (per-file failures
    * tolerated), and per-event success is derived from one distributed
    * existence probe grouped by event — O(1) Spark jobs per backlog,
    * never a driver-serial copy loop.
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
    * Returns (completed, failed). */
  def processPendingEvents(region: String): (Int, Int) = {
    val pending = pendingEvents(region)
      .select("event_id", "table_entry", "commit_id", "event_type")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
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
            val added = src.addedFiles(ns, table, snap)
            PreparedEvent(eventId, entry, commitId, eventType, None, added, ns, table,
              snap.timestampMs,
              added.map(f => (eventId,
                src.tablePath(ns, table).resolve(f).toString,
                regions(region).tablePath(ns, table).resolve(f).toString)),
              snap.schemaJson, snap.seq)
          case other => throw new IllegalArgumentException(s"unknown event type $other")
        }
      } catch { case _: Exception =>
        PreparedEvent(eventId, entry, commitId, eventType, Some("Failed"))
      }
    }.seq

    // phase 2: ONE union copy job for the whole batch, then ONE
    // distributed verification probe → per-event verdicts.
    val dataSyncs = preps.filter(_.status.isEmpty)
    val okEvents: Set[String] = if (dataSyncs.isEmpty) Set.empty else {
      val manifest = dataSyncs.flatMap(_.manifest)
        .toDF("event_id", "src_path", "dst_path")
      copyBatches += 1
      val (files, bytes) = StorageOps.distributedCopyStats(manifest, tolerant = true)
      metrics.increment("sync.files_copied", files)
      metrics.increment("sync.bytes_copied", bytes)
      // size-verified, not existence-only: a truncated dst from a
      // mid-copy crash must fail the event, not silently complete it
      val verified = StorageOps.copyVerifyProbe(manifest, "src_path", "dst_path", "event_id")
        .groupBy(col("event_id"))
        .agg(min(col("ok").cast("int")).as("all_ok"))
        .filter(col("all_ok") === 1)
        .select("event_id").as[String].collect().toSet
      // events whose snapshot diff was empty are trivially complete
      verified ++ dataSyncs.filter(_.manifest.isEmpty).map(_.eventId)
    }

    // phase 3: replica commits — parallel ACROSS tables, in-order WITHIN
    // a table (version parent chains). Watermark advances are collected
    // and appended ONCE after the fan-out: the shared consistency-token
    // CAS never contends, and a watermark append failure can no longer
    // fail (or W8-compensate!) an event whose commit already succeeded.
    val now = System.currentTimeMillis()
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
                schemaJson = p.schemaJson, commitId = Some(s"sync-${p.commitId}"))
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
      sys.commitAppend("_system", "consistency_tokens",
        watermarks.map { case (entry, wmMs) =>
          (entry, region, wmMs, System.currentTimeMillis(), appendSeq.getAndIncrement()) }
          .toDF("table_entry", "region", "high_watermark_ms", "ts", "seq"),
        maxRetries = SystemRetries)
    val ok = updates.count(_._6 == "Completed")
    if (updates.nonEmpty) appendEvents(updates)
    (ok, updates.size - ok)
  }

  // ---------------- consistency tokens (G9 + Q9) ----------------
  // After a replica lands a commit, its watermark advances to the source
  // commit timestamp; freshness-constrained reads only consider regions
  // whose watermark covers the requested timestamp (v1 ReadRouter.java:21).

  sys.createTable("_system", "consistency_tokens")

  private[graft] def advanceWatermark(entry: String, region: String, watermarkMs: Long): Unit =
    sys.commitAppend("_system", "consistency_tokens",
      Seq((entry, region, watermarkMs, System.currentTimeMillis(), appendSeq.getAndIncrement()))
        .toDF("table_entry", "region", "high_watermark_ms", "ts", "seq"),
      maxRetries = SystemRetries)

  /** High-water mark per (table, region) — the MAX over all appended
    * tokens, NOT the latest row: a stale advance landing late (a retried
    * old event completing after newer commits synced) must never regress
    * the mark. A high-water mark is a max by definition; latest-row-wins
    * is only correct for status-like state. */
  def consistencyTokens: DataFrame =
    sysRead("consistency_tokens")
      .groupBy(col("table_entry"), col("region"))
      .agg(max(col("high_watermark_ms")).as("high_watermark_ms"))

  /** Q9: regions able to serve `ns.table` at `requiredMs` freshness. The
    * writing source region always qualifies. */
  def freshRegions(ns: String, table: String, requiredMs: Long): Seq[String] = {
    val entry = s"$ns.$table"
    consistencyTokens
      .filter(col("table_entry") === entry && col("high_watermark_ms") >= requiredMs)
      .select("region").as[String].collect().toSeq.sorted
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
    sys.commitAppend("_system", "approvals",
      regionsAsked.map(r => (commitId, r, None: Option[Boolean], System.currentTimeMillis(),
                             appendSeq.getAndIncrement(), deadline))
        .toDF("commit_id", "region", "approved", "ts", "seq", "deadline_ms"),
      maxRetries = SystemRetries)
  }

  def vote(commitId: String, region: String, approve: Boolean): Unit =
    sys.commitAppend("_system", "approvals",
      Seq((commitId, region, Some(approve): Option[Boolean], System.currentTimeMillis(),
           appendSeq.getAndIncrement(), None: Option[Long]))
        .toDF("commit_id", "region", "approved", "ts", "seq", "deadline_ms"),
      maxRetries = SystemRetries)

  private def latestVotes(commitId: String): DataFrame = {
    val w = Window.partitionBy(col("commit_id"), col("region"))
      .orderBy(col("ts").desc, col("seq").desc)
    sysRead("approvals")
      .filter(col("commit_id") === commitId)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
  }

  /** W2/W4 lifecycle: Approved (all true) / Rejected (any false) /
    * TimedOut (unanswered past the deadline) / Pending. */
  def approvalStatus(commitId: String, nowMs: Long = System.currentTimeMillis()): String = {
    val votes = latestVotes(commitId).select("approved").collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Boolean]))
    if (votes.isEmpty) return "Pending"
    // MAX over the commit's recorded deadlines: a re-request that extends
    // the voting window (or asks another region with a fresh one) must
    // take effect — min would pin the commit to the earliest deadline
    // ever written and turn it sticky-TimedOut
    val deadline = sysRead("approvals")
      .filter(col("commit_id") === commitId && col("deadline_ms").isNotNull)
      .agg(max(col("deadline_ms"))).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
    if (votes.forall(_.contains(true))) "Approved"
    else if (votes.exists(_.contains(false))) "Rejected"
    else if (deadline.exists(nowMs > _)) "TimedOut"
    else "Pending"
  }

  /** W4: all asked regions answered AND all answered true. */
  def isCommitApproved(commitId: String): Boolean = {
    val decided = graft.operators.CommitGate.quorum(
      latestVotes(commitId).withColumn("approved", coalesce(col("approved"), lit(false))))
    decided.select("approved").as[Boolean].collect().headOption.getOrElse(false)
  }

  // ---------------- verify + promote (Y16 + C13) ----------------

  /** The v1 happy-path tail: verify every file of the replica snapshot
    * exists with the right size (reconciliation join), then atomically
    * promote visibility. Throws if any defect — no partial visibility. */
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

package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.functions._

import graft.catalog.GraftCatalog
import graft.operators.GcPlanner
import graft.service.GeoReplicationService
import graft.sources.StorageOps

/** geo_replication: three regions, one GeoReplicationService, four tables
  * registered everywhere. Closed loop, three client threads: a writer
  * (coordinateWrite into the primary, round-robin over the tables), a
  * sync worker (processPendingEvents per replica, maintenance every few
  * rounds) and a reader (readRouted to a replica, then count). */
final class GeoReplication(run: Run) extends Workload {
  import run.{spark, tracer}

  private val ns = "geo"
  private val tables = (0 until 4).map(i => s"t$i")
  private val regions = Seq("us-east-1", "eu-west-1", "ap-south-1")
  private val primary = regions.head
  private val replicas = regions.tail
  val sliceRows = 250
  /** Sync rounds between maintenance passes. */
  val maintainEvery = 1
  /** Primary versions expiry keeps at least; it also keeps every version
    * from the oldest commit a replica has not applied yet onward. */
  val minRetain = 2

  private val gen = new LineitemGen(run.profile, run.seed)
  private var root: Path = _
  private var maintenancePass = 0
  private var cats: Map[String, GraftCatalog] = _
  private var svc: GeoReplicationService = _
  private val nextSlice = new AtomicLong(0)
  private val userRows = new AtomicLong(0)

  import GeoReplication.Unseen
  private val unseen = new AtomicReference[Vector[Unseen]](Vector.empty)

  def clients = 3
  def opUnit = "acknowledged write"
  def opsDone: Double = tracer.opList.count(o => o.phase == "timed" && o.kind == "write" && o.ok)

  // slices are pure functions of (seed, index): nothing to stage up front
  def inputs(): Unit = ()

  def setup(rep: Int): Unit = {
    if (root != null) Run.deleteTree(root)
    root = run.freshDir(s"geo-$rep")
    cats = regions.map(r => r -> new GraftCatalog(spark, root.resolve(r).toString)).toMap
    svc = new GeoReplicationService(spark, cats, primary)
    for (t <- tables) {
      regions.foreach(r => cats(r).createTable(ns, t))
      regions.foreach(r => svc.registerTable(ns, t, r))
    }
    nextSlice.set(0)
    userRows.set(0)
    unseen.set(Vector.empty)
    tables.foreach(t => write(t))
    drain()
    tables.foreach(t => svc.readRouted(ns, t, Some(replicas.head)).count())
    // the timed phase should not pay the first compile of the maintenance
    // queries either
    maintenancePass = 0
    maintain()
  }

  private def write(table: String): Option[GeoReplicationService#WriteResult] = {
    val df = gen.slice(spark, nextSlice.getAndIncrement() * sliceRows, sliceRows)
    val res = tracer.op("write") {
      tracer.span("service", "coordinateWrite") { svc.coordinateWrite(ns, table, df, primary) }
    }
    res.foreach { r =>
      val ack = System.nanoTime()
      userRows.addAndGet(sliceRows)
      if (tracer.phase == "timed")
        unseen.updateAndGet(_ :+ Unseen(table, r.commitId, ack, replicas.toSet))
    }
    res
  }

  /** One batch for region `r`, then note which acknowledged writes became
    * observable there (the replica commit id is "sync-<commit id>"). */
  private def syncRegion(r: String): Unit = {
    tracer.probe(tracer.span("service", "pendingEvents.count") { svc.pendingEvents(r).count() })
    val files0 = svc.metrics.counter("sync.files_copied")
    val bytes0 = svc.metrics.counter("sync.bytes_copied")
    val (ok, failed) = tracer.span("service", "processPendingEvents") { svc.processPendingEvents(r) }
    run.add("service.sync_batches")
    run.add("service.sync_events", ok + failed)
    run.add("service.events_failed", failed)
    run.add("service.copy_files", (svc.metrics.counter("sync.files_copied") - files0).toDouble)
    run.add("service.copy_bytes", (svc.metrics.counter("sync.bytes_copied") - bytes0).toDouble)
    if (failed > 0)
      run.add("service.events_retried",
        tracer.span("service", "retryFailedEvents") { svc.retryFailedEvents(r) }.toDouble)
    observe(r)
  }

  private def observe(r: String): Unit = {
    val now = System.nanoTime()
    val pending = unseen.get.filter(_.regions.contains(r))
    val seen = pending.map(_.table).distinct.flatMap { t =>
      val ids = tracer.span("catalog", "snapshots") {
        cats(r).snapshots(ns, t).iterator.map(_.commitId).toSet
      }
      pending.filter(u => u.table == t && ids.contains(s"sync-${u.commitId}"))
    }.map(_.commitId).toSet
    // lags observed by the final drain would carry the time between the
    // deadline and the drain: only the timed phase's observations count
    if (tracer.phase == "timed")
      pending.filter(u => seen.contains(u.commitId))
        .foreach(u => run.sample("replica_lag_ms", Workload.ms(now - u.ackNs)))
    unseen.updateAndGet(_.flatMap { u =>
      if (!seen.contains(u.commitId)) Some(u)
      else Some(u.copy(regions = u.regions - r)).filter(_.regions.nonEmpty)
    })
  }

  /** One maintenance pass: compact both `_system` logs, expire primary
    * versions every replica has, and plan orphan GC for one table
    * (round-robin). */
  private def maintain(): Unit = tracer.op("maintain") {
    // a compaction whose checkpoint races an event append aborts by
    // design (CAS on the version it read); the next pass tries again
    def compacted(name: String)(f: => Boolean): Unit =
      if (!tracer.span("service", name)(f)) run.add("service.compact_aborts")
    compacted("compactSyncEvents")(svc.compactSyncEvents())
    compacted("compactConsistencyTokens")(svc.compactConsistencyTokens())
    val primaryCat = cats(primary)
    // a replica applies a DataSync event from its commit's snapshot, so
    // expiry keeps every version from the oldest commit still waiting
    // for a replica (pending or failed) onward. The cut is a commit time,
    // not a count: a version the writer commits meanwhile is newer still.
    val waiting = tracer.span("service", "pendingEvents") {
      replicas.flatMap(r => svc.pendingEvents(r).union(svc.failedEvents(r))
        .select("table_entry", "commit_id").collect().map(x => x.getString(0) -> x.getString(1)))
    }.toSet
    tables.foreach { t =>
      val snaps = primaryCat.snapshots(ns, t)
      val oldest = snaps.find(s => waiting.contains(s"$ns.$t" -> s.commitId))
        .getOrElse(snaps(math.max(0, snaps.size - minRetain)))
      val before = math.min(snaps.count(_.timestampMs < oldest.timestampMs), snaps.size - minRetain)
      if (before > 0) {
        tracer.span("catalog", "expireSnapshots") {
          primaryCat.expireOlderThan(ns, t, oldest.timestampMs, minSnapshotsToKeep = minRetain)
        }
        run.add("catalog.versions_expired", before.toDouble)
      }
    }
    maintenancePass += 1
    val t = tables(maintenancePass % tables.size)
    val tableRoot = primaryCat.tablePath(ns, t)
    val bare = new org.apache.hadoop.fs.Path(tableRoot.toString).toUri.getPath
    val inventory = tracer.span("sources", "listing") {
      StorageOps.listing(spark, tableRoot.resolve("data").toString)
    }.withColumn("path",
        regexp_replace(col("path"), ".*" + java.util.regex.Pattern.quote(bare + "/"), ""))
      .withColumn("seen_at", current_timestamp())
    val reachable = tracer.span("catalog", "filesTable") {
      primaryCat.filesTable(ns, t, primaryCat.latest(ns, t).get.seq)
    }
    val candidates = tracer.span("operators", "GcPlanner.orphans") {
      GcPlanner.orphans(inventory, reachable, Seq("path"), "seen_at").count()
    }
    run.add("service.maintenance_passes")
    run.add("operators.gc_candidates", candidates.toDouble)
  }: Unit

  def run(deadlineNs: Long): Unit = {
    def live = System.nanoTime() < deadlineNs
    Workload.clients(
      "geo-writer" -> { () =>
        var i = 0
        while (live) { write(tables(i % tables.size)); i += 1 }
      },
      "geo-sync" -> { () =>
        var round = 0
        while (live) {
          round += 1
          tracer.op("sync") {
            replicas.foreach(syncRegion)
            tracer.probe {
              tracer.span("catalog", "latest") { cats(primary).latest(ns, tables(round % tables.size)) }
              tracer.span("catalog", "latest") { cats(primary).latest("_system", "sync_events") }
            }
          }
          if (round % maintainEvery == 0 && live) maintain()
        }
      },
      "geo-reader" -> { () =>
        var j = 0
        while (live) {
          val t = tables(j % tables.size)
          val r = replicas(j % replicas.size)
          tracer.op("read") {
            tracer.probe(tracer.span("service", "routeRead") { svc.routeRead(ns, t, Some(r)) })
            tracer.span("service", "readRouted") { svc.readRouted(ns, t, Some(r)).count() }
          }
          j += 1
        }
      })
  }

  /** Process every replica until nothing is pending (bounded). */
  private def drain(): Unit = {
    var rounds = 0
    while (rounds < 30 && replicas.exists(r => svc.pendingEvents(r).count() > 0)) {
      replicas.foreach(syncRegion)
      rounds += 1
    }
  }

  def finish(): Unit = {
    drain()
    run.check("geo.drained", unseen.get.isEmpty,
      s"${unseen.get.size} acknowledged writes never became observable in a replica")
    replicas.foreach { r =>
      val failed = svc.failedEvents(r).count()
      run.check(s"geo.no_failed_events.$r", failed == 0, s"$failed sync events left Failed")
    }
    val primaryCat = cats(primary)
    val primaryRows = tables.map(t => t -> primaryCat.read(ns, t).count()).toMap
    for (t <- tables; r <- replicas) {
      val replicaCat = cats(r)
      val (p, q) = (primaryCat.latest(ns, t).get, replicaCat.latest(ns, t))
      val pRows = primaryRows(t)
      val qRows = q.map(_ => replicaCat.read(ns, t).count()).getOrElse(-1L)
      run.check(s"geo.rows.$r.$t", pRows == qRows, s"primary $pRows rows, replica $qRows")
      val pFiles = primaryCat.dataFiles(ns, t, p).toSet
      val qFiles = q.map(s => replicaCat.dataFiles(ns, t, s).toSet).getOrElse(Set.empty)
      run.check(s"geo.files.$r.$t", pFiles == qFiles,
        s"file sets differ: ${(pFiles diff qFiles).size} missing, ${(qFiles diff pFiles).size} extra")
    }
    run.check("geo.rows_accepted", primaryRows.values.forall(_ > 0), "an empty primary table")
    val (disk, _) = Run.diskUsage(root)
    val (meta, _) = Run.diskUsage(root, _.toString.contains("/_meta/"))
    run.set("user_bytes", userRows.get.toDouble * gen.rowBytes)
    run.set("disk_bytes", disk.toDouble)
    run.set("catalog.meta_bytes", meta.toDouble)
    run.set("catalog.live_files",
      regions.flatMap(r => tables.flatMap(t => cats(r).latest(ns, t).map(_.fileCount))).sum.toDouble)
    run.set("catalog.versions",
      tables.map(t => primaryCat.snapshots(ns, t).size).sum.toDouble / tables.size)
    run.set("catalog.system_versions", primaryCat.snapshots("_system", "sync_events").size.toDouble)
  }
}

object GeoReplication {
  /** An acknowledged write still missing from some replica. */
  final case class Unseen(table: String, commitId: String, ackNs: Long, regions: Set[String])
}

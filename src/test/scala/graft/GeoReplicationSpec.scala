package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.catalog.GraftCatalog
import graft.service.GeoReplicationService
import graft.sources.StorageOps

/** End-to-end scenarios ported from the reference's integration suite
  * (WriteSyncReadWorkflowE2ESpec / GeoDistributedSystemE2ESpec):
  * multi-region write→sync→read with byte-equality, region-failure
  * fallback, and failed-event retry — over local-FS regions. */
class GeoReplicationSpec extends SparkSpec {
  import spark.implicits._

  private def freshService(regionNames: String*): GeoReplicationService = {
    val regions = regionNames.map { r =>
      r -> new GraftCatalog(spark, Files.createTempDirectory(s"graft-$r").toString)
    }.toMap
    new GeoReplicationService(spark, regions, regionNames.head)
  }

  test("write -> sync -> routed read returns identical data in the replica region") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("analytics", "user_events")
    svc.registerTable("analytics", "user_events", "us-east-1")
    svc.registerTable("analytics", "user_events", "eu-west-1")

    val data = Seq((1L, "click"), (2L, "view"), (3L, "click")).toDF("user_id", "event_type")
    val res = svc.coordinateWrite("analytics", "user_events", data, "us-east-1")
    assert(res.syncEvents === 2, "metadata + data sync event for the one target region")
    assert(svc.pendingEvents("eu-west-1").count() === 2)

    val (ok, bad) = svc.processPendingEvents("eu-west-1")
    assert((ok, bad) === (2, 0))
    assert(svc.pendingEvents("eu-west-1").count() === 0)

    // replica holds byte-identical rows (reference consistency check)
    val replica = svc.regions("eu-west-1").read("analytics", "user_events")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(replica === Array((1L, "click"), (2L, "view"), (3L, "click")))

    // preferred-region read routes to the replica
    val loc = svc.routeRead("analytics", "user_events", Some("eu-west-1"))
    assert(loc.region === "eu-west-1")

    // S8: each region resolves to its storage root; unknown regions don't
    assert(svc.storageLocation("eu-west-1") === Some(svc.regions("eu-west-1").warehouse))
    assert(svc.storageLocation("mars-1").isEmpty)
  }

  test("incremental sync copies only files added by the new commit") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")

    svc.coordinateWrite("ns", "t", Seq(1L, 2L).toDF("id"), "us-east-1")
    svc.processPendingEvents("eu-west-1")
    val eu = svc.regions("eu-west-1")
    val filesAfterFirst = eu.dataFiles("ns", "t", eu.latest("ns", "t").get).size

    svc.coordinateWrite("ns", "t", Seq(3L).toDF("id"), "us-east-1")
    svc.processPendingEvents("eu-west-1")
    val replica = svc.regions("eu-west-1")
    assert(replica.read("ns", "t").as[Long].collect().sorted === Array(1L, 2L, 3L))
    assert(replica.dataFiles("ns", "t", replica.latest("ns", "t").get).size > filesAfterFirst)
    // idempotence: reprocessing with nothing pending copies nothing
    assert(svc.processPendingEvents("eu-west-1") === (0, 0))
  }

  test("region failure: events fail, reads fall back, retry recovers (reference failure scenario)") {
    val svc = freshService("us-east-1", "eu-west-1", "ap-northeast-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")

    svc.coordinateWrite("ns", "t", Seq(1L).toDF("id"), "us-east-1")

    svc.unavailableRegions = Set("eu-west-1")
    val (ok, bad) = svc.processPendingEvents("eu-west-1")
    assert((ok, bad) === (0, 2))
    assert(svc.failedEvents("eu-west-1").count() === 2)

    // routed read must avoid the failed region (falls back to us-east-1)
    assert(svc.routeRead("ns", "t").region === "us-east-1")
    // preferred failed region is ignored
    assert(svc.routeRead("ns", "t", Some("eu-west-1")).region === "us-east-1")

    // region recovers: retry resets Failed->Pending, processing completes
    svc.unavailableRegions = Set.empty
    assert(svc.retryFailedEvents("eu-west-1") === 2)
    assert(svc.processPendingEvents("eu-west-1") === (2, 0))
    assert(svc.regions("eu-west-1").read("ns", "t").as[Long].collect() === Array(1L))
  }

  test("v1 happy path: commit -> sync -> verify -> promote -> visible read (C13/Y16)") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    svc.coordinateWrite("ns", "t", Seq(7L, 8L).toDF("id"), "us-east-1")
    svc.processPendingEvents("eu-west-1")
    val replica = svc.regions("eu-west-1")
    val seq = replica.latest("ns", "t").get.seq

    // shadow until promoted: published view is empty
    assert(replica.readVisible("ns", "t").isEmpty)
    svc.verifyAndPromote("ns", "t", "eu-west-1", seq, visibleAtMs = 0L)
    assert(replica.readVisible("ns", "t").as[Long].collect().sorted === Array(7L, 8L))

    // corrupt a data file -> verification must refuse to promote
    val f = replica.dataFiles("ns", "t", replica.latest("ns", "t").get).head
    java.nio.file.Files.write(replica.tablePath("ns", "t").resolve(f), Array[Byte](1))
    intercept[IllegalStateException](
      svc.verifyAndPromote("ns", "t", "eu-west-1", seq, visibleAtMs = 0L))
  }

  test("commit gate voting: quorum requires every asked region to approve (W2/W3/W4)") {
    val svc = freshService("us-east-1")
    svc.requestCommitApproval("c1", Seq("us-east-1", "eu-west-1"))
    assert(!svc.isCommitApproved("c1"), "unanswered request is not approved")
    svc.vote("c1", "us-east-1", approve = true)
    assert(!svc.isCommitApproved("c1"))
    svc.vote("c1", "eu-west-1", approve = true)
    assert(svc.isCommitApproved("c1"))
    // a rejection after approval flips the latest vote for that region
    svc.vote("c1", "eu-west-1", approve = false)
    assert(!svc.isCommitApproved("c1"))
  }

  test("sync worker runs as a Structured Streaming foreachBatch loop (Y9 streaming form)") {
    implicit val sqlCtx = spark.sqlContext
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    svc.coordinateWrite("ns", "t", Seq(42L).toDF("id"), "us-east-1")
    assert(svc.pendingEvents("eu-west-1").count() === 2)

    // the per-region worker as a streaming job: each trigger drains the
    // region's pending events (reference processPendingEvents loop)
    val ticks = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val worker = ticks.toDF().writeStream
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        svc.processPendingEvents("eu-west-1"); ()
      }.start()
    try {
      ticks.addData(1)
      worker.processAllAvailable()
      assert(svc.pendingEvents("eu-west-1").count() === 0)
      assert(svc.regions("eu-west-1").read("ns", "t").as[Long].collect() === Array(42L))
    } finally worker.stop()
  }

  test("consistency tokens gate freshness-constrained reads (G9/Q9)") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    val res = svc.coordinateWrite("ns", "t", Seq(1L).toDF("id"), "us-east-1")
    val commitTs = svc.regions("us-east-1").latest("ns", "t").get.timestampMs

    // before sync: only the source region is fresh enough
    assert(svc.freshRegions("ns", "t", commitTs) === Seq("us-east-1"))
    svc.processPendingEvents("eu-west-1")
    // after sync: the replica watermark covers the commit
    assert(svc.freshRegions("ns", "t", commitTs) === Seq("eu-west-1", "us-east-1"))
    assert(svc.freshRegions("ns", "t", commitTs + 1).isEmpty,
      "a future timestamp is served by no region yet")
  }

  test("a backlog of O(100) pending events costs exactly ONE copy batch (Y9-Y11 parallel dispatch)") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    // 50 commits -> 100 pending events (50 MetadataSync + 50 DataSync)
    (1 to 50).foreach(i => svc.coordinateWrite("ns", "t", Seq(i.toLong).toDF("id"), "us-east-1"))
    assert(svc.pendingEvents("eu-west-1").count() === 100)

    svc.copyBatches = 0
    val (ok, bad) = svc.processPendingEvents("eu-west-1")
    assert((ok, bad) === (100, 0))
    assert(svc.copyBatches === 1,
      "the whole DataSync backlog must union into one distributed copy job")
    assert(svc.regions("eu-west-1").read("ns", "t").as[Long].collect().sorted
      === (1L to 50L).toArray)
  }

  test("multi-table backlog: commits parallel across tables, ordered within, still ONE copy batch") {
    val svc = freshService("us-east-1", "eu-west-1")
    val tables = (1 to 8).map(i => s"t$i")
    tables.foreach { t =>
      svc.regions("us-east-1").createTable("ns", t)
      svc.registerTable("ns", t, "us-east-1")
      svc.registerTable("ns", t, "eu-west-1")
    }
    // 8 tables x 5 commits -> 80 pending events; each table's commits
    // must replay in order on the replica even though tables fan out
    for (i <- 1 to 5; t <- tables)
      svc.coordinateWrite("ns", t, Seq(i.toLong).toDF("id"), "us-east-1")
    assert(svc.pendingEvents("eu-west-1").count() === 80)

    svc.copyBatches = 0
    val (ok, bad) = svc.processPendingEvents("eu-west-1")
    assert((ok, bad) === (80, 0))
    assert(svc.copyBatches === 1,
      "the whole multi-table backlog must still union into one copy job")
    tables.foreach { t =>
      assert(svc.regions("eu-west-1").read("ns", t).as[Long].collect().sorted
        === (1L to 5L).toArray, s"table $t replica contents")
      // the batched watermark append must cover each table's last commit
      val commitTs = svc.regions("us-east-1").latest("ns", t).get.timestampMs
      assert(svc.freshRegions("ns", t, commitTs).contains("eu-west-1"),
        s"table $t watermark must reach the final commit")
    }
  }

  test("replica replays schema evolution in source-commit order") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    // v1 commits (id); v2 evolves to (id, name) — replaying v2 before v1
    // would fail the replica's additive schema validation, so this also
    // guards the source-order replay
    svc.coordinateWrite("ns", "t", Seq(1L).toDF("id"), "us-east-1")
    svc.coordinateWrite("ns", "t", Seq((2L, "b")).toDF("id", "name"), "us-east-1")
    val (ok, bad) = svc.processPendingEvents("eu-west-1")
    assert((ok, bad) === (4, 0))
    val replica = svc.regions("eu-west-1").read("ns", "t")
    assert(replica.columns.toSeq === Seq("id", "name"))
    assert(replica.as[(Long, Option[String])].collect().sortBy(_._1)
      === Array((1L, None), (2L, Some("b"))))
  }

  test("a stale watermark advance landing late never regresses the high-water mark") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    // a retried OLD event can complete after newer commits already
    // advanced the mark — the read must be a max, not latest-row-wins
    svc.advanceWatermark("ns.t", "eu-west-1", 100L)
    svc.advanceWatermark("ns.t", "eu-west-1", 50L) // stale retry lands later
    val wm = svc.consistencyTokens
      .filter(org.apache.spark.sql.functions.col("table_entry") === "ns.t" &&
        org.apache.spark.sql.functions.col("region") === "eu-west-1")
      .select("high_watermark_ms").as[Long].collect()
    assert(wm === Array(100L))
    assert(svc.freshRegions("ns", "t", 100L).contains("eu-west-1"))
    // compaction must checkpoint the MAX row too, not the latest append
    assert(svc.compactConsistencyTokens())
    val wmAfter = svc.consistencyTokens
      .filter(org.apache.spark.sql.functions.col("table_entry") === "ns.t")
      .select("high_watermark_ms").as[Long].collect()
    assert(wmAfter === Array(100L), "compaction regressed the high-water mark")
  }

  test("cold start: every read works before the first append (typed empty system tables)") {
    val svc = freshService("us-east-1", "eu-west-1")
    assert(svc.pendingEvents("eu-west-1").count() === 0)
    assert(svc.failedEvents("eu-west-1").count() === 0)
    assert(svc.consistencyTokens.count() === 0)
    assert(svc.approvalStatus("no-such-commit") === "Pending")
    assert(svc.freshRegions("ns", "t", 0L).isEmpty)
    assert(svc.processPendingEvents("eu-west-1") === ((0, 0)))
  }

  test("a failed commit HALTS its table: no watermark over the gap, retry replays in order") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    svc.coordinateWrite("ns", "t", Seq(1L).toDF("id"), "us-east-1")
    val src = svc.regions("us-east-1")
    val snap1 = src.latest("ns", "t").get
    svc.coordinateWrite("ns", "t", Seq(2L).toDF("id"), "us-east-1")
    val ts2 = src.latest("ns", "t").get.timestampMs

    // sabotage c1: move its source data file away -> its copy cannot verify
    val f1 = src.tablePath("ns", "t").resolve(src.addedFiles("ns", "t", snap1).head)
    val hidden = f1.resolveSibling(f1.getFileName.toString + ".hidden")
    Files.move(f1, hidden)
    val (ok1, bad1) = svc.processPendingEvents("eu-west-1")
    // 2 MetadataSync complete; BOTH DataSyncs fail: c1 on the copy, c2 by
    // the halt (committing it would advance the watermark over the gap)
    assert((ok1, bad1) === ((2, 2)))
    assert(svc.regions("eu-west-1").tableExists("ns", "t"))
    assert(!svc.freshRegions("ns", "t", ts2).contains("eu-west-1"),
      "watermark must NOT cover c2 while c1 is missing")

    // heal and retry: both replay, in source order
    Files.move(hidden, f1)
    assert(svc.retryFailedEvents("eu-west-1") === 2)
    val (ok2, bad2) = svc.processPendingEvents("eu-west-1")
    assert((ok2, bad2) === ((2, 0)))
    assert(svc.regions("eu-west-1").read("ns", "t").as[Long].collect().sorted === Array(1L, 2L))
    assert(svc.freshRegions("ns", "t", ts2).contains("eu-west-1"))
  }

  test("approval re-request with a longer window lifts a TimedOut back to Pending") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.requestCommitApproval("c9", Seq("eu-west-1"), timeoutMs = Some(-1000)) // already past
    assert(svc.approvalStatus("c9") === "TimedOut")
    svc.requestCommitApproval("c9", Seq("eu-west-1"), timeoutMs = Some(600000))
    assert(svc.approvalStatus("c9") === "Pending",
      "the extended voting window must take effect (max deadline, not min)")
  }

  test("a truncated destination file is re-copied, never trusted") {
    val src = Files.createTempDirectory("trunc-src")
    val dst = Files.createTempDirectory("trunc-dst")
    StorageOps.writeFile(s"$src/f.bin", Array.fill(100)(7.toByte))
    StorageOps.writeFile(s"$dst/f.bin", Array.fill(10)(7.toByte)) // partial from a crashed copy
    val manifest = Seq(("e1", s"$src/f.bin", s"$dst/f.bin"))
      .toDF("event_id", "src_path", "dst_path")
    // verify probe flags the mismatch...
    val bad = StorageOps.copyVerifyProbe(manifest).select("ok").as[Boolean].collect()
    assert(bad === Array(false))
    // ...and the copy replaces the partial file instead of skipping it
    StorageOps.distributedCopyStats(manifest)
    assert(StorageOps.readFile(s"$dst/f.bin").length === 100)
    val good = StorageOps.copyVerifyProbe(manifest).select("ok").as[Boolean].collect()
    assert(good === Array(true))
  }

  /** A primary and one replica hosting ns.t, warmed by one write and its
    * sync (the replica table exists, the registry is cached). */
  private def warmService(): GeoReplicationService = {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    svc.coordinateWrite("ns", "t", Seq(0L).toDF("id"), "us-east-1")
    assert(svc.processPendingEvents("eu-west-1") === ((2, 0)))
    svc
  }

  test("a steady-state sync batch and a compaction with its expiry run no Spark job") {
    val svc = warmService()
    svc.coordinateWrite("ns", "t", Seq(1L, 2L).toDF("id"), "us-east-1")
    svc.copyBatches = 0
    val (res, syncJobs) = withJobs(svc.processPendingEvents("eu-west-1"))
    assert(res === ((2, 0)))
    assert(syncJobs.isEmpty, s"a metadata-scale sync batch ran jobs: $syncJobs")
    assert(svc.copyBatches === 1)
    val (compacted, compactJobs) = withJobs(svc.compactSyncEvents())
    assert(compacted)
    assert(compactJobs.isEmpty, s"compaction plus expiry ran jobs: $compactJobs")
    val sys = svc.regions("us-east-1")
    assert(sys.snapshots("_system", "sync_events").size === 1,
      "expiry leaves the checkpoint version only")
    assert(svc.eventLog.count() === 4L)
    assert(svc.regions("eu-west-1").read("ns", "t").as[Long].collect().sorted === Array(0L, 1L, 2L))
  }

  test("coordinateWrite of a driver-local slice runs no Spark job") {
    val svc = warmService()
    val (res, jobs) = withJobs(svc.coordinateWrite("ns", "t",
      (1 to 250).map(i => (i.toLong, s"v$i")).toDF("id", "v").select("id"), "us-east-1"))
    assert(res.syncEvents === 2)
    assert(jobs.isEmpty, s"a local write ran jobs: $jobs")
    assert(svc.pendingEvents("eu-west-1").count() === 2L)
  }

  private def replicaIds(svc: GeoReplicationService): Seq[String] =
    svc.regions("eu-west-1").snapshots("ns", "t").map(_.commitId)

  test("replica retention: every version a sync batch commits is in the replica's " +
       "snapshot list when the batch returns; 30 rounds keep the last batch plus one") {
    val svc = warmService()
    val (src, replica) = (svc.regions("us-east-1"), svc.regions("eu-west-1"))
    var next = 1L
    (1 to 30).foreach { round =>
      val ids = (1 to 1 + round % 3).map { _ =>
        next += 1
        svc.coordinateWrite("ns", "t", Seq(next).toDF("id"), "us-east-1").commitId
      }
      assert(svc.processPendingEvents("eu-west-1") === ((2 * ids.size, 0)))
      val seen = replicaIds(svc)
      ids.foreach(id => assert(seen.contains(s"sync-$id"), s"round $round: sync-$id is gone"))
      assert(seen.size <= ids.size + 1, s"round $round keeps ${seen.size} versions")
    }
    assert(replica.read("ns", "t").as[Long].collect().sorted ===
      src.read("ns", "t").as[Long].collect().sorted)
    assert(replica.dataFiles("ns", "t", replica.latest("ns", "t").get).toSet ===
      src.dataFiles("ns", "t", src.latest("ns", "t").get).toSet)
    assert(src.snapshots("ns", "t").size === 61, "the source keeps its own history")
  }

  test("replica retention: a version whose event is still Pending survives the next " +
       "batch's expiry and completes as a duplicate, with no second version") {
    val svc = warmService()
    val (src, replica) = (svc.regions("us-east-1"), svc.regions("eu-west-1"))
    (1L to 2L).foreach { i =>
      svc.coordinateWrite("ns", "t", Seq(i).toDF("id"), "us-east-1")
      assert(svc.processPendingEvents("eu-west-1") === ((2, 0)))
    }
    // the worker died after committing this write's replica version and
    // before appending its events' statuses: both are still Pending
    val crashed = svc.coordinateWrite("ns", "t", Seq(3L).toDF("id"), "us-east-1").commitId
    val files = src.addedFiles("ns", "t", src.byCommitId("ns", "t", crashed).get)
    files.foreach(f => Files.copy(src.tablePath("ns", "t").resolve(f),
      replica.tablePath("ns", "t").resolve(f)))
    val kept = replica.commitFiles("ns", "t", files, "eu-west-1",
      commitId = Some(s"sync-$crashed")).seq
    val later = svc.coordinateWrite("ns", "t", Seq(4L).toDF("id"), "us-east-1").commitId
    assert(svc.pendingEvents("eu-west-1").count() === 4L)
    assert(svc.processPendingEvents("eu-west-1") === ((4, 0)))
    val snaps = replica.snapshots("ns", "t")
    assert(snaps.map(_.seq).min === kept, "versions below the batch's head are expired")
    assert(snaps.count(_.commitId == s"sync-$crashed") === 1, "a second version was written")
    assert(snaps.map(_.commitId).contains(s"sync-$later"))
    assert(svc.pendingEvents("eu-west-1").count() === 0L)
    assert(replica.read("ns", "t").as[Long].collect().sorted === Array(0L, 1L, 2L, 3L, 4L))
    // the next batch expires it once its event is Completed
    svc.coordinateWrite("ns", "t", Seq(5L).toDF("id"), "us-east-1")
    assert(svc.processPendingEvents("eu-west-1") === ((2, 0)))
    assert(!replicaIds(svc).contains(s"sync-$crashed"))
    assert(replica.read("ns", "t").as[Long].collect().sorted === (0L to 5L).toArray)
  }

  test("replica retention never expires a version the region committed itself") {
    val svc = warmService()
    val replica = svc.regions("eu-west-1")
    // the replica region writes the table too: other regions sync from
    // its own versions
    val own = replica.commitAppend("ns", "t", Seq(100L).toDF("id"), "eu-west-1").commitId
    (1L to 3L).foreach { i =>
      svc.coordinateWrite("ns", "t", Seq(i).toDF("id"), "us-east-1")
      assert(svc.processPendingEvents("eu-west-1") === ((2, 0)))
    }
    assert(replicaIds(svc).head === own, "expiry stops at the region's own version")
  }

  test("replica retention keeps the promoted version: visible reads survive later " +
       "batches, and a later promotion lets the older versions go") {
    val svc = warmService()
    val replica = svc.regions("eu-west-1")
    svc.coordinateWrite("ns", "t", Seq(1L).toDF("id"), "us-east-1")
    assert(svc.processPendingEvents("eu-west-1") === ((2, 0)))
    val promoted = replica.latest("ns", "t").get.seq
    svc.verifyAndPromote("ns", "t", "eu-west-1", promoted, visibleAtMs = 0L)
    (2L to 5L).foreach { i =>
      svc.coordinateWrite("ns", "t", Seq(i).toDF("id"), "us-east-1")
      assert(svc.processPendingEvents("eu-west-1") === ((2, 0)))
      assert(replica.readVisible("ns", "t").as[Long].collect().sorted === Array(0L, 1L),
        s"batch $i lost the promoted version")
    }
    assert(replica.snapshots("ns", "t").head.seq === promoted)
    svc.verifyAndPromote("ns", "t", "eu-west-1", promoted, visibleAtMs = 0L)
    val head = replica.latest("ns", "t").get.seq
    svc.verifyAndPromote("ns", "t", "eu-west-1", head, visibleAtMs = 0L)
    svc.coordinateWrite("ns", "t", Seq(6L).toDF("id"), "us-east-1")
    assert(svc.processPendingEvents("eu-west-1") === ((2, 0)))
    assert(replica.snapshots("ns", "t").head.seq === head)
    assert(replica.readVisible("ns", "t").as[Long].collect().sorted === (0L to 5L).toArray)
  }

  test("a promotion landing between a retention pass's read of the versions and its " +
       "expiry survives the expiry with every version above it; a promotion of an " +
       "expired version is refused") {
    val svc = warmService()
    val replica = svc.regions("eu-west-1")
    (1L to 3L).foreach(i => svc.coordinateWrite("ns", "t", Seq(i).toDF("id"), "us-east-1"))
    assert(svc.processPendingEvents("eu-west-1") === ((6, 0)))
    // the retention pass reads the versions, with none promoted yet ...
    val found = replica.snapshots("ns", "t").map(_.seq)
    assert(found.size === 4 && replica.publishedSeq("ns", "t").isEmpty)
    // ... a promotion lands ...
    val promoted = found(1)
    svc.verifyAndPromote("ns", "t", "eu-west-1", promoted, visibleAtMs = 0L)
    // ... and the expiry it computed from its stale read runs
    replica.expireBefore("ns", "t", found.last)
    assert(replica.snapshots("ns", "t").map(_.seq) === found.drop(1))
    assert(replica.readVisible("ns", "t").as[Long].collect().sorted === Array(0L, 1L))
    // the other order: the version is gone before its promotion
    val e = intercept[IllegalArgumentException](replica.setVisibility("ns", "t", found(0), 0L))
    assert(e.getMessage.contains(s"no version ${found(0)}"), e.getMessage)
    assert(replica.publishedSeq("ns", "t") === Some(promoted))
  }

  test("a sync batch copies on the driver within the replica's target file size and " +
       "distributed past it; a truncated destination is re-copied on both paths") {
    val svc = warmService()
    val (src, replica) = (svc.regions("us-east-1"), svc.regions("eu-west-1"))
    // a crashed earlier copy left a truncated file where the commit's
    // file lands: the copy must replace it, and only then pass the event
    def writeOverTruncated(ids: Long*): String = {
      svc.coordinateWrite("ns", "t", ids.toDF("id"), "us-east-1")
      val f = src.addedFiles("ns", "t", src.latest("ns", "t").get).head
      val dst = replica.tablePath("ns", "t").resolve(f)
      Files.createDirectories(dst.getParent)
      Files.write(dst, Array[Byte](1, 2, 3))
      f
    }
    def sync(f: String): Seq[String] = {
      svc.copyBatches = 0
      val (res, jobs) = withJobs(svc.processPendingEvents("eu-west-1"))
      assert(res === ((2, 0)))
      assert(svc.copyBatches === 1)
      assert(Files.size(replica.tablePath("ns", "t").resolve(f)) ===
        Files.size(src.tablePath("ns", "t").resolve(f)), "the truncated file was trusted")
      jobs
    }
    val f1 = writeOverTruncated(1L, 2L)
    val driverJobs = sync(f1)
    assert(driverJobs.isEmpty, s"a metadata-scale batch ran jobs: $driverJobs")
    // a replica target file smaller than the batch puts it past the rule
    replica.commitProperties("ns", "t", Map(GraftCatalog.TargetFileSizeProp -> "64"))
    val f2 = writeOverTruncated(3L)
    val distributedJobs = sync(f2)
    assert(distributedJobs.size >= 2, s"expected the copy and verify jobs: $distributedJobs")
    assert(replica.read("ns", "t").as[Long].collect().sorted === Array(0L, 1L, 2L, 3L))
  }

  test("S6 async copy jobs: submit/progress/cancel with idempotent resume") {
    import graft.sources.CopyJobManager
    val src = Files.createTempDirectory("cj-src")
    val dst = Files.createTempDirectory("cj-dst")
    (1 to 40).foreach(i => StorageOps.writeFile(s"$src/f$i.bin", Array.fill(i)(i.toByte)))
    val manifest = (1 to 40).map(i => (s"$src/f$i.bin", s"$dst/f$i.bin"))
      .toDF("src_path", "dst_path")

    val mgr = new CopyJobManager(spark)
    val job = mgr.submit(manifest)
    val done = mgr.await(job)
    assert(done.state === "Completed")
    assert(done.files_copied === 40)
    assert(done.bytes_copied === (1 to 40).map(_.toLong).sum)
    // status table is SQL-queryable
    assert(mgr.statusTable.filter($"state" === "Completed").count() === 1)
    // cancel on a terminal job is refused
    assert(!mgr.cancel(job))

    // cancel path: either we catch it running (Cancelled) or it already
    // finished (cancel refused) — in both cases resubmission converges to
    // a fully-copied destination because the copy is exists-guarded.
    val dst2 = Files.createTempDirectory("cj-dst2")
    val manifest2 = (1 to 40).map(i => (s"$src/f$i.bin", s"$dst2/f$i.bin"))
      .toDF("src_path", "dst_path")
    val job2 = mgr.submit(manifest2)
    val cancelled = mgr.cancel(job2)
    val st2 = mgr.await(job2)
    assert(if (cancelled) st2.state === "Cancelled" else st2.state === "Completed")
    val resume = mgr.await(mgr.submit(manifest2))
    assert(resume.state === "Completed")
    assert(StorageOps.listing(spark, dst2.toString).count() === 40)
    assert(mgr.status("nope").isEmpty)
  }

  test("event-log compaction: logical state identical, physical history collapses to checkpoint + tail") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")

    // generate history: writes fan out events, processing appends status rows
    svc.coordinateWrite("ns", "t", Seq(1L).toDF("id"), "us-east-1")
    svc.coordinateWrite("ns", "t", Seq(2L).toDF("id"), "us-east-1")
    svc.processPendingEvents("eu-west-1")

    def key(r: org.apache.spark.sql.Row) = r.getString(0)
    val before = svc.eventLog.collect().map(r => key(r) -> r.toString).toMap
    val rawBefore = svc.rawSystemCount("sync_events")
    assert(rawBefore > before.size, "history must hold more rows than live events")

    assert(svc.compactSyncEvents())
    val after = svc.eventLog.collect().map(r => key(r) -> r.toString).toMap
    assert(after === before, "compaction must not change the logical event log")
    assert(svc.rawSystemCount("sync_events") === before.size.toLong,
      "post-compaction reads scan exactly the live checkpoint")

    // tail appends after the checkpoint still win the latest-row window
    svc.coordinateWrite("ns", "t", Seq(3L).toDF("id"), "us-east-1")
    assert(svc.pendingEvents("eu-west-1").count() === 2)
    svc.processPendingEvents("eu-west-1")
    assert(svc.pendingEvents("eu-west-1").count() === 0)
    assert(svc.regions("eu-west-1").read("ns", "t").as[Long].collect().sorted
      === Array(1L, 2L, 3L))

    // approvals compaction carries the TimedOut deadline through
    svc.requestCommitApproval("c-dl", Seq("us-east-1", "eu-west-1"), timeoutMs = Some(60000))
    svc.vote("c-dl", "us-east-1", approve = true)
    val statusBefore = svc.approvalStatus("c-dl")
    assert(svc.compactApprovals())
    assert(svc.approvalStatus("c-dl") === statusBefore)
    assert(svc.approvalStatus("c-dl", nowMs = System.currentTimeMillis() + 120000)
      === "TimedOut", "the voting deadline must survive compaction")

    // consistency tokens: watermark answers identical after checkpointing
    val freshBefore = svc.freshRegions("ns", "t", 0L)
    assert(svc.compactConsistencyTokens())
    assert(svc.freshRegions("ns", "t", 0L) === freshBefore)
  }

  test("a compaction rebases over an event append racing it; a racing compaction still aborts") {
    val svc = freshService("us-east-1", "eu-west-1")
    val sys = svc.regions("us-east-1")
    sys.createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    svc.coordinateWrite("ns", "t", Seq(1L).toDF("id"), "us-east-1")
    svc.coordinateWrite("ns", "t", Seq(2L).toDF("id"), "us-east-1")
    svc.processPendingEvents("eu-west-1")

    // the compaction reads version `cur`; an event append lands before
    // it commits
    val cur = sys.latest("_system", "sync_events").get.seq
    val live = svc.eventLog.count()
    assert(svc.rawSystemCount("sync_events") > live, "history must hold more rows than live events")
    svc.coordinateWrite("ns", "t", Seq(3L).toDF("id"), "us-east-1")
    val head = sys.latest("_system", "sync_events").get.seq
    val tail = sys.readIncremental("_system", "sync_events", cur, head).count()
    assert(tail === 2L, "the racing write appends its two pending events")
    def log() = svc.eventLog.collect().map(r => r.getString(0) -> r.toString).toMap
    val before = log()
    val pendingBefore = svc.pendingEvents("eu-west-1").select("event_id").as[String]
      .collect().toSet
    assert(pendingBefore.size === 2)

    assert(svc.compactSystemAt("sync_events", cur), "the compaction must rebase, not abort")
    assert(svc.pendingEvents("eu-west-1").select("event_id").as[String].collect().toSet
      === pendingBefore, "the racing events are still pending")
    assert(log() === before, "compaction must not change the logical event log")
    assert(svc.rawSystemCount("sync_events") === live + tail,
      "the log is the checkpoint of v$cur plus the tail appended since")

    // a second compaction from the same base finds v$cur's manifests
    // rewritten: it aborts and changes nothing
    val afterFirst = sys.latest("_system", "sync_events").get.seq
    assert(!svc.compactSystemAt("sync_events", cur), "a racing compaction must abort")
    assert(sys.latest("_system", "sync_events").get.seq === afterFirst)
    assert(log() === before)

    svc.processPendingEvents("eu-west-1")
    assert(svc.pendingEvents("eu-west-1").count() === 0)
    assert(svc.regions("eu-west-1").read("ns", "t").as[Long].collect().sorted
      === Array(1L, 2L, 3L))
  }

  test("storage listing fans prefixes out to executors; deep trees list without driver buffering") {
    val root = Files.createTempDirectory("list-tree")
    // root-level files + many nested prefixes, several levels deep
    (1 to 3).foreach(i => Files.write(root.resolve(s"root-$i.bin"), Array[Byte](1)))
    (1 to 8).foreach { d =>
      val deep = root.resolve(s"prefix-$d/mid/leaf")
      Files.createDirectories(deep)
      (1 to 25).foreach(i => Files.write(deep.resolve(s"f$i.bin"), Array.fill[Byte](i)(0)))
    }
    // 8 prefixes sit under Spark's parallel-discovery threshold (32), which
    // lists them on the driver; a threshold below 8 takes the executor path
    val df = withDiscoveryThreshold(4) {
      val df = StorageOps.listing(spark, root.toString)
      assert(df.count() === 3 + 8 * 25)
      // per-prefix totals survive the fan-out (sizes/paths intact)
      val bytes = df.agg(org.apache.spark.sql.functions.sum("size_bytes")).head.getLong(0)
      assert(bytes === 3 + 8 * (1 to 25).sum)
      // the prefix scan is distributed: one task per top-level prefix, so the
      // plan must carry >1 partition (driver-buffered listings collapse to 1)
      assert(df.rdd.getNumPartitions >= 8)
      df.collect().toSet
    }
    // the driver path: the same rows, and no job
    val (local, jobs) = withJobs(StorageOps.listing(spark, root.toString).collect().toSet)
    assert(local === df)
    assert(jobs.isEmpty, s"a shallow listing ran jobs: $jobs")
  }

  private def withDiscoveryThreshold[T](n: Int)(body: => T): T = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, n.toLong)
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a shallow listing runs on the driver with the executor fan-out's rows: " +
       "root files, nested and hidden names, empty and missing roots, escaped paths") {
    // threshold 0 sends every subdirectory to an executor task; a root
    // with no subdirectory (the empty and the missing root) has nothing to
    // fan out, so there both listings take the driver path and the check
    // pins only that they list as empty without a job
    def both(root: String, fansOut: Boolean): Set[org.apache.spark.sql.Row] = {
      val (local, jobs) = withJobs(StorageOps.listing(spark, root).collect().toSet)
      assert(jobs.isEmpty, s"a shallow listing ran jobs: $jobs")
      val (fanned, fannedJobs) =
        withDiscoveryThreshold(0)(withJobs(StorageOps.listing(spark, root).collect().toSet))
      assert(fannedJobs.nonEmpty === fansOut, s"executor listing jobs: $fannedJobs")
      assert(local === fanned)
      local
    }
    val base = Files.createTempDirectory("list-parity")
    val root = Files.createDirectories(base.resolve("graft wh+plus/data"))
    def put(rel: String, n: Int): Unit = {
      Files.createDirectories(root.resolve(rel).getParent)
      Files.write(root.resolve(rel), Array.fill[Byte](n)(7))
    }
    put("root-1.bin", 1)
    put("p1/a.parquet", 2)
    put("p1/deep/er/b.parquet", 3)
    put("_tmp/x", 4)
    put("_staging/y", 5)
    put("p2/._tmp_z", 6)
    Files.createDirectories(root.resolve("empty-prefix"))
    val rows = both(root.toString, fansOut = true)
    val uri = root.toUri.toString.stripSuffix("/")
    assert(rows.map(r => (r.getString(0), r.getLong(1))) === Set(
      s"$uri/root-1.bin" -> 1L, s"$uri/p1/a.parquet" -> 2L, s"$uri/p1/deep/er/b.parquet" -> 3L,
      s"$uri/_tmp/x" -> 4L, s"$uri/_staging/y" -> 5L, s"$uri/p2/._tmp_z" -> 6L)
      .map { case (p, n) => new org.apache.hadoop.fs.Path(new java.net.URI(p)).toString -> n })
    assert(rows.forall(_.getLong(2) > 0), "every row carries its mtime")
    assert(both(Files.createDirectories(base.resolve("empty")).toString, fansOut = false).isEmpty)
    assert(both(base.resolve("missing").toString, fansOut = false).isEmpty)
  }

  /** `prefixes` one-file directories under `root/dir`, file i of i bytes. */
  private def putPrefixes(root: java.nio.file.Path, dir: String, prefixes: Int): Unit =
    (1 to prefixes).foreach { i =>
      val p = Files.createDirectories(root.resolve(s"$dir/p$i"))
      Files.write(p.resolve("f.bin"), Array.fill[Byte](i)(1))
    }

  test("the discovery threshold applies at every level: a root with two children " +
       "and 40 nested prefixes lists them on executors, with the driver walk's rows") {
    val root = Files.createTempDirectory("list-nested")
    Files.write(root.resolve("root.bin"), Array[Byte](1))
    putPrefixes(root, "a", 40)
    Files.createDirectories(root.resolve("b"))
    Files.write(root.resolve("b/g.bin"), Array[Byte](1, 2))
    val df = StorageOps.listing(spark, root.toString)
    assert(df.rdd.getNumPartitions >= 40, "one task per nested prefix")
    val (fanned, jobs) = withJobs(df.collect().toSet)
    assert(jobs.nonEmpty, "40 sibling prefixes are past the threshold of 32")
    assert(fanned.size === 2 + 40)
    assert(fanned.toSeq.map(_.getLong(1)).sum === 1 + 2 + (1 to 40).sum)
    val (walked, walkJobs) =
      withDiscoveryThreshold(64)(withJobs(StorageOps.listing(spark, root.toString).collect().toSet))
    assert(walkJobs.isEmpty)
    assert(walked === fanned)
  }

  test("the executor listing treats a prefix removed after the driver's walk as empty") {
    val root = Files.createTempDirectory("list-vanish")
    putPrefixes(root, "data", 40)
    // the driver walks the tree when the frame is built; the tasks list
    // the prefixes when it runs — an expiry removing an emptied staging
    // directory in between must not fail the listing
    val df = StorageOps.listing(spark, root.toString)
    Files.delete(root.resolve("data/p1/f.bin"))
    Files.delete(root.resolve("data/p1"))
    val (rows, jobs) = withJobs(df.collect())
    assert(jobs.nonEmpty, "40 prefixes list on executors")
    assert(rows.map(_.getLong(1)).sorted.toSeq === (2 to 40).map(_.toLong))
  }

  test("a small table's orphan-GC plan and the pending/failed event counts run no Spark job") {
    val svc = warmService()
    svc.coordinateWrite("ns", "t", Seq(1L, 2L).toDF("id"), "us-east-1")
    val cat = svc.regions("us-east-1")
    val tableRoot = cat.tablePath("ns", "t")
    Files.createDirectories(tableRoot.resolve("data/_tmp"))
    Files.write(tableRoot.resolve("data/_tmp/abandoned.parquet"), Array[Byte](1))
    val bare = new org.apache.hadoop.fs.Path(tableRoot.toString).toUri.getPath
    val (orphans, gcJobs) = withJobs {
      val inventory = StorageOps.listing(spark, tableRoot.resolve("data").toString)
        .withColumn("path", org.apache.spark.sql.functions.regexp_replace($"path",
          ".*" + java.util.regex.Pattern.quote(bare + "/"), ""))
        .withColumn("seen_at", org.apache.spark.sql.functions.current_timestamp())
      val reachable = cat.filesTable("ns", "t", cat.latest("ns", "t").get.seq)
      graft.operators.GcPlanner.orphans(inventory, reachable, Seq("path"), "seen_at").count()
    }
    assert(orphans === 1L, "the abandoned temp file is the one orphan")
    assert(gcJobs.isEmpty, s"a small table's GC plan ran jobs: $gcJobs")
    val (counts, countJobs) = withJobs(
      (svc.pendingEvents("eu-west-1").count(), svc.failedEvents("eu-west-1").count()))
    assert(counts === ((2L, 0L)))
    assert(countJobs.isEmpty, s"event counts ran jobs: $countJobs")
  }

  test("a routed read's count on a replica under the driver-read bound starts no Spark " +
       "job, and its rows still come from a file scan") {
    val svc = warmService()
    (1L to 5L).foreach { i =>
      svc.coordinateWrite("ns", "t", Seq(2 * i, 2 * i + 1).toDF("id"), "us-east-1")
    }
    assert(svc.processPendingEvents("eu-west-1") === ((10, 0)))
    val (n, jobs) = withJobs(svc.readRouted("ns", "t", Some("eu-west-1")).count())
    assert(n === 11L)
    assert(jobs.isEmpty, s"a small routed count ran jobs: $jobs")
    val read = svc.readRouted("ns", "t", Some("eu-west-1"))
    assert(read.inputFiles.length === 6, "a bare read stays a file scan")
    assert(read.as[Long].collect().sorted === (0L +: (2L to 11L)).toArray)
  }

  test("a table past 32 staged commits and 32 manifests keeps a job-free orphan-GC " +
       "plan: its data listing and filesTable are local relations") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-gc40").toString)
    cat.createTable("ns", "t")
    (1 to 40).foreach(i => cat.commitAppend("ns", "t", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val head = cat.latest("ns", "t").get
    assert(head.manifests.size === 40 && head.fileCount === 40L)
    val tableRoot = cat.tablePath("ns", "t")
    val listing = StorageOps.listing(spark, tableRoot.resolve("data").toString)
    val reachable = cat.filesTable("ns", "t", head.seq)
    assert(listing.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(reachable.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    Files.write(tableRoot.resolve("data/abandoned.parquet"), Array[Byte](1))
    val bare = new org.apache.hadoop.fs.Path(tableRoot.toString).toUri.getPath
    val (orphans, jobs) = withJobs {
      val inventory = StorageOps.listing(spark, tableRoot.resolve("data").toString)
        .withColumn("path", org.apache.spark.sql.functions.regexp_replace($"path",
          ".*" + java.util.regex.Pattern.quote(bare + "/"), ""))
        .withColumn("seen_at", org.apache.spark.sql.functions.current_timestamp())
      graft.operators.GcPlanner.orphans(inventory, cat.filesTable("ns", "t", head.seq),
        Seq("path"), "seen_at").count()
    }
    assert(orphans === 1L, "the abandoned file is the one orphan")
    assert(jobs.isEmpty, s"a 40-commit table's GC plan ran jobs: $jobs")
  }

  test("expiry keeps the event log's data tree at its live files: after 20 append, " +
       "compaction and expiry rounds data/ holds exactly the latest version's files") {
    val svc = warmService()
    (1 to 20).foreach { i =>
      svc.coordinateWrite("ns", "t", Seq(i.toLong).toDF("id"), "us-east-1")
      svc.processPendingEvents("eu-west-1")
      assert(svc.compactSyncEvents())
    }
    val sys = svc.regions("us-east-1")
    val data = sys.tablePath("_system", "sync_events").resolve("data")
    val listed = Files.list(data)
    val onDisk = try listed.iterator().asScala.map(p => s"data/${p.getFileName}").toSet
                 finally listed.close()
    val head = sys.latest("_system", "sync_events").get
    val live = (sys.dataFileEntries("_system", "sync_events", head) ++
      sys.deleteFileEntries("_system", "sync_events", head)).map(_._1).toSet
    assert(onDisk === live)
  }

  test("concurrent load: 10 tables written in parallel, synced, 30 routed reads byte-identical (reference WriteSyncReadWorkflow)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global

    val svc = freshService("us-east-1", "eu-west-1")
    val tables = (1 to 10).map(i => s"t$i")
    tables.foreach { t =>
      svc.regions("us-east-1").createTable("load", t)
      svc.registerTable("load", t, "us-east-1")
      svc.registerTable("load", t, "eu-west-1")
    }
    // parallel writers contend on the shared sync-event/watermark tables —
    // the CAS loop with jittered backoff must absorb all 10
    val writes = tables.zipWithIndex.map { case (t, i) =>
      Future(svc.coordinateWrite("load", t, Seq(i.toLong, i + 100L).toDF("v"), "us-east-1"))
    }
    val results = Await.result(Future.sequence(writes), 5.minutes)
    assert(results.forall(_.syncEvents === 2))
    assert(svc.pendingEvents("eu-west-1").count() === 20)

    val (ok, bad) = svc.processPendingEvents("eu-west-1")
    assert((ok, bad) === (20, 0))

    // 30 routed reads across tables and preferred regions, byte-identical
    (0 until 30).foreach { i =>
      val t = tables(i % 10)
      val pref = if (i % 2 == 0) Some("eu-west-1") else Some("us-east-1")
      val got = svc.readRouted("load", t, pref).as[Long].collect().sorted
      assert(got === Array((i % 10).toLong, (i % 10) + 100L), s"read $i of $t")
    }
  }

  test("W2 approval timeout: unanswered requests time out; answered ones resolve (reference timeout variant)") {
    val svc = freshService("us-east-1")
    svc.requestCommitApproval("c-t1", Seq("us-east-1", "eu-west-1"), timeoutMs = Some(60000L))
    assert(svc.approvalStatus("c-t1") === "Pending")
    // past the deadline with missing votes -> TimedOut
    assert(svc.approvalStatus("c-t1", nowMs = System.currentTimeMillis() + 120000L) === "TimedOut")
    // full approval beats any deadline
    svc.vote("c-t1", "us-east-1", approve = true)
    svc.vote("c-t1", "eu-west-1", approve = true)
    assert(svc.approvalStatus("c-t1", nowMs = System.currentTimeMillis() + 120000L) === "Approved")
    // any rejection is terminal
    svc.vote("c-t1", "eu-west-1", approve = false)
    assert(svc.approvalStatus("c-t1") === "Rejected")
  }

  test("E1 typed pub/sub: type filter, wildcard, predicate unsubscribe, isolated handler failure") {
    import graft.streaming.EventBus
    val bus = new EventBus[String]
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val s1 = bus.subscribe("DataSync")(e => seen += s"data:$e")
    bus.subscribe("MetadataSync")(e => seen += s"meta:$e")
    bus.subscribe("*")(e => seen += s"any:$e")
    bus.subscribe("DataSync")(_ => throw new RuntimeException("boom"))

    assert(bus.publish("DataSync", "e1") === 2, "typed + wildcard ran; thrower did not count")
    assert(seen.toSeq === Seq("data:e1", "any:e1"))
    assert(bus.unsubscribe(s1))
    assert(!bus.unsubscribe(s1), "double unsubscribe is a no-op")
    assert(bus.unsubscribeWhere(_ == "DataSync") === 1, "predicate removes the thrower")
    seen.clear()
    bus.publish("DataSync", "e2")
    assert(seen.toSeq === Seq("any:e2"), "only the wildcard remains for DataSync")
  }

  test("E2 publishAsync delivers off the publisher thread, in order, isolating slow handlers") {
    import graft.streaming.EventBus
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val bus = new EventBus[String]
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val publisherThread = Thread.currentThread().getName
    @volatile var handlerThread = ""
    bus.subscribe("Ev") { e => handlerThread = Thread.currentThread().getName; Thread.sleep(50); seen.add(e): Unit }
    bus.subscribe("Ev")(_ => throw new RuntimeException("boom"))

    val t0 = System.nanoTime()
    val f1 = bus.publishAsync("Ev", "a")
    val f2 = bus.publishAsync("Ev", "b")
    val publisherElapsedMs = (System.nanoTime() - t0) / 1e6
    assert(publisherElapsedMs < 40, s"publishAsync blocked the publisher for ${publisherElapsedMs}ms")
    assert(Await.result(f1, 5.seconds) === 1, "clean handler counted; thrower isolated")
    assert(Await.result(f2, 5.seconds) === 1)
    assert(seen.toArray.toSeq === Seq("a", "b"), "async deliveries preserve publish order")
    assert(handlerThread !== publisherThread, "handler must run off the publisher thread")
  }

  test("E3 metrics: sync worker feeds copy counters; snapshot is SQL-queryable") {
    val svc = freshService("us-east-1", "eu-west-1")
    svc.regions("us-east-1").createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    svc.coordinateWrite("ns", "t", Seq(1L, 2L, 3L).toDF("id"), "us-east-1")
    svc.processPendingEvents("eu-west-1")
    assert(svc.metrics.counter("sync.files_copied") > 0)
    assert(svc.metrics.counter("sync.bytes_copied") > 0)
    assert(svc.metrics.counter("sync.events_completed") === 2)
    val snap = svc.metrics.asDataFrame(spark)
      .filter($"kind" === "counter").select("metric").as[String].collect()
    assert(snap.contains("sync.files_copied"))
  }

  test("C8 streaming listing pulls lazily and matches the full listing") {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-stream").toString)
    (1 to 5).foreach(i => cat.createTable("ns", s"t$i"))
    val it = cat.listTablesStream("ns")
    assert(it.take(2).toSeq.size === 2, "partial pull must not require the full listing")
    assert(cat.listTablesStream("ns").toSeq.sorted === (1 to 5).map(i => s"t$i"))
    assert(cat.listTablesStream("nope").isEmpty)
  }

  test("cross-process control plane: a second JVM commits concurrently through the file-CAS catalog") {
    // the reference's production intent is MULTIPLE coordinator processes
    // sharing one catalog (its v2 gate simulates multi-region commit
    // arbitration in-memory, InMemoryCommitGateAdapter.java:29-81). The
    // file-CAS commit point needs no in-process lock, so a foreign JVM
    // must interleave with zero lost updates and a gapless linear history.
    val wh = Files.createTempDirectory("graft-xproc").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ns", "t")
    val perSide = 8

    // inherit this (forked) test JVM's own classpath — works wherever the
    // build puts classes and Spark jars, no hardcoded locations
    val classpath = System.getProperty("java.class.path")
    val addOpens = Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic").map(p => s"--add-opens=java.base/$p=ALL-UNNAMED") ++
      Seq("sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
        .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ addOpens ++ Seq(
      "-Xmx1g", "-cp", classpath,
      "graft.tools.CommitStorm", wh, "ns", "t", "jvm2", perSide.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val child = pb.start()

    // this JVM commits in parallel with the child process
    (0 until perSide).foreach { i =>
      cat.commitAppend("ns", "t", Seq(("jvm1", i)).toDF("committer", "i"),
        sourceRegion = "jvm1", maxRetries = 50)
    }
    val out = scala.io.Source.fromInputStream(child.getInputStream).mkString
    assert(child.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), s"child hung:\n$out")
    assert(child.exitValue() === 0, s"child failed:\n${out.takeRight(4000)}")
    assert(out.contains(s"STORM-DONE jvm2 $perSide"), s"child did not finish:\n${out.takeRight(2000)}")

    val snaps = cat.snapshots("ns", "t")
    assert(snaps.map(_.seq) === (0L until 2L * perSide), "gapless monotonic seq")
    // linear history: every snapshot's parent is exactly its predecessor —
    // a lost update would fork the chain or skip a parent
    snaps.sliding(2).foreach { case Seq(p, c) =>
      assert(c.parentId === Some(p.commitId), s"broken chain at seq ${c.seq}")
    }
    val bySide = snaps.groupBy(_.sourceRegion).view.mapValues(_.size).toMap
    assert(bySide === Map("jvm1" -> perSide, "jvm2" -> perSide))
    // and the data all landed: one row per commit
    assert(cat.read("ns", "t").count() === 2L * perSide)
  }

  test("StorageOps distributed copy is exists-guarded (idempotent)") {
    val src = Files.createTempDirectory("src")
    val dst = Files.createTempDirectory("dst")
    StorageOps.writeFile(s"$src/a.bin", Array[Byte](1, 2, 3))
    StorageOps.writeFile(s"$src/b.bin", Array[Byte](4))
    val manifest = Seq(
      (s"$src/a.bin", s"$dst/a.bin"),
      (s"$src/b.bin", s"$dst/b.bin")).toDF("src_path", "dst_path")
    assert(StorageOps.distributedCopy(manifest) === 2)
    assert(StorageOps.distributedCopy(manifest) === 0, "second run must skip existing files")
    assert(StorageOps.readFile(s"$dst/a.bin").toSeq === Seq[Byte](1, 2, 3))
    assert(StorageOps.stat(s"$dst/b.bin").map(_._1) === Some(1L))
    val stats = StorageOps.storageStats(spark, dst.toString)
      .collect().head
    assert(stats.getLong(0) === 2 && stats.getLong(1) === 4)
  }
}

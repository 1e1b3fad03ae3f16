package graft

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.catalog.GraftCatalog
import graft.service.GeoReplicationService
import org.apache.spark.sql.Row

/** The `_system` log views against their DataFrame window references
  * ([[SystemLogReference]]), over seeded random interleavings of appends,
  * retries, compactions and expiry. */
class SystemLogSpec extends SparkSpec {

  private def walk(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Seq.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  test("system-log views equal the window references over random appends, retries, " +
       "same-millisecond and stale rows, compactions (plain, rebased, aborted) and expiry") {
    val regions = Seq("us-east-1", "eu-west-1", "ap-south-1").map { r =>
      r -> new GraftCatalog(spark, Files.createTempDirectory(s"graft-views-$r").toString)
    }.toMap
    val svc = new GeoReplicationService(spark, regions, "us-east-1")
    val schemas = svc.systemSchemas - "registry"
    val sys = regions("us-east-1")
    val rnd = new scala.util.Random(6061L)
    val replicas = Seq("eu-west-1", "ap-south-1")
    val entries = Seq("ns.a", "ns.b", "ns.c")
    val commits = Seq("c1", "c2", "c3")
    // appends advance the clock by 0 or 1 ms (same-millisecond rows order
    // by seq); test seqs never meet the service's own (which start at 0)
    var clock = System.currentTimeMillis()
    var seq = 1000000L
    def stamp(): (Long, Long) = { clock += rnd.nextInt(2); seq += 1; (clock, seq) }
    val history = schemas.keys.map(_ -> ArrayBuffer.empty[Row]).toMap
    var nextEvent = 0

    def append(name: String, rows: Seq[Row]): Unit = if (rows.nonEmpty) {
      sys.commitAppend("_system", name, spark.createDataFrame(rows.asJava, schemas(name)))
      history(name) ++= rows
    }
    def eventIds = history("sync_events").map(_.getString(0)).distinct
    def events(): Seq[Row] = Seq.fill(1 + rnd.nextInt(3)) {
      val (ts, sq) = stamp()
      if (eventIds.nonEmpty && rnd.nextInt(3) > 0) {
        // a status update (or a hand-made Failed -> Pending retry)
        val id = eventIds(rnd.nextInt(eventIds.size))
        val prior = history("sync_events").filter(_.getString(0) == id).last
        val status = Seq("Completed", "Failed", "Failed", "Pending")(rnd.nextInt(4))
        Row.fromSeq(prior.toSeq.take(5) ++ Seq(status, ts, sq))
      } else {
        nextEvent += 1
        Row(s"evt-$nextEvent", entries(rnd.nextInt(3)), s"commit-$nextEvent",
          Seq("MetadataSync", "DataSync")(rnd.nextInt(2)), replicas(rnd.nextInt(2)),
          "Pending", ts, sq)
      }
    }
    // watermarks move both ways: a stale advance lands after a newer one
    def tokens(): Seq[Row] = Seq.fill(1 + rnd.nextInt(2)) {
      val (ts, sq) = stamp()
      Row(entries(rnd.nextInt(3)), replicas(rnd.nextInt(2)), 1000L + rnd.nextInt(50), ts, sq)
    }
    // requests (re-requests carry a new, possibly shorter or absent,
    // deadline) and votes
    def approvals(): Seq[Row] = Seq.fill(1 + rnd.nextInt(2)) {
      val (ts, sq) = stamp()
      val (c, r) = (commits(rnd.nextInt(3)), replicas(rnd.nextInt(2)))
      if (rnd.nextBoolean())
        Row(c, r, null, ts, sq, if (rnd.nextInt(4) == 0) null else clock + rnd.nextInt(10000) - 5000)
      else Row(c, r, rnd.nextBoolean(), ts, sq, null)
    }
    val gen = Map[String, () => Seq[Row]]("sync_events" -> (() => events()),
      "consistency_tokens" -> (() => tokens()), "approvals" -> (() => approvals()))

    def rowSet(rows: Seq[Row]) = rows.map(_.toSeq).toSet
    def reference(name: String) = rowSet(SystemLogReference.checkpoints(name)(
      spark.createDataFrame(history(name).asJava, schemas(name))).collect().toSeq)
    def checkParity(step: String, name: String): Unit = {
      val ref = reference(name)
      assert(rowSet(svc.viewRows(name)) === ref, s"$name view after $step")
      name match {
        case "sync_events" => replicas.foreach { r =>
          def ids(status: String) = ref.filter(v => v(5) == status && v(4) == r).map(_.head)
          assert(svc.pendingEvents(r).collect().map(_.getString(0)).toSet === ids("Pending"))
          assert(svc.failedEvents(r).collect().map(_.getString(0)).toSet === ids("Failed"))
        }
        case "consistency_tokens" =>
          assert(rowSet(svc.consistencyTokens.collect().toSeq) === ref.map(_.take(3)))
        case _ =>
      }
    }
    // after a compaction and its expiry the log on disk is exactly the
    // checkpoint plus the tail: no other data file, manifest or version
    def checkCompacted(name: String, ckpt: Long): Unit = {
      val root = sys.tablePath("_system", name)
      val head = sys.latest("_system", name).get
      val onDisk = walk(root.resolve("data")).map(p => root.relativize(p).toString)
      assert(onDisk.toSet ===
        sys.dataFiles("_system", name, head).toSet, s"$name data files on disk")
      assert(walk(root.resolve("_meta/manifests")).map(p => root.relativize(p).toString).toSet ===
        head.manifests.toSet, s"$name manifests on disk")
      assert(sys.snapshots("_system", name).map(_.seq).min === ckpt, s"$name versions")
      assert(rowSet(SystemLogReference.checkpoints(name)(sys.read("_system", name)).collect().toSeq)
        === reference(name), s"$name log contents")
    }

    val done = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    schemas.keys.foreach(checkParity("a cold start", _))
    for (step <- 1 to 60) {
      val name = Seq("sync_events", "consistency_tokens", "approvals")(rnd.nextInt(3))
      val mode = rnd.nextInt(8)
      mode match {
        case 0 =>
          // a plain compaction of the head
          val compacted = name match {
            case "sync_events" => svc.compactSyncEvents()
            case "consistency_tokens" => svc.compactConsistencyTokens()
            case _ => svc.compactApprovals()
          }
          assert(compacted, s"step $step: compaction of $name aborted")
          done("compaction") += 1
          sys.latest("_system", name).foreach(h => checkCompacted(name, h.seq))
        case 1 if sys.latest("_system", name).nonEmpty =>
          // a compaction of version `cur` with an append racing it: it
          // rebases; a second one from the same base finds `cur` expired
          // and aborts, changing nothing
          val cur = sys.latest("_system", name).get.seq
          append(name, gen(name)())
          assert(svc.compactSystemAt(name, cur), s"step $step: rebased compaction aborted")
          val landed = sys.latest("_system", name).get
          checkCompacted(name, landed.seq)
          assert(!svc.compactSystemAt(name, cur), s"step $step: a compaction of expired v$cur landed")
          assert(sys.latest("_system", name).get === landed)
          done("rebased") += 1
        case 2 =>
          // the service's own Failed -> Pending retry, recorded from the log
          val r = replicas(rnd.nextInt(2))
          val before = sys.latest("_system", "sync_events").map(_.seq)
          val n = svc.retryFailedEvents(r)
          val after = sys.latest("_system", "sync_events").map(_.seq)
          if (n > 0) {
            history("sync_events") ++= sys.readIncremental("_system", "sync_events",
              before.get, after.get).collect()
            done("retry") += 1
          } else assert(after === before)
        case _ => append(name, gen(name)())
      }
      // a step changes one log (a retry: sync_events)
      checkParity(s"step $step", if (mode == 2) "sync_events" else name)
    }
    schemas.keys.foreach(checkParity("the last step", _))
    assert(history.values.map(_.size).sum > 80, "the run appended too little to mean anything")
    assert(Seq("compaction", "rebased", "retry").forall(done(_) > 0), s"not every kind ran: $done")
  }
}

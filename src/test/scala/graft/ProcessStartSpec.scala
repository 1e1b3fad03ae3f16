package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}

import graft.catalog.GraftCatalog
import graft.service.GeoReplicationService

/** graft's per-file I/O starts no operating-system process. Hadoop's
  * local file system without its native library forks a `chmod` for
  * every file it creates (and one more for the file's `.crc` sidecar);
  * graft's writers and copies create their files through java.nio, so
  * none of the operations below may start a process from graft code.
  * The check records the JDK's own `jdk.ProcessStart` events, with their
  * stack traces, around each operation. */
class ProcessStartSpec extends SparkSpec {
  import spark.implicits._

  /** The process starts `body` causes, on any thread, as (command, first
    * graft frame) for each start whose stack runs through graft's main
    * code. */
  private def graftProcessStarts(body: => Unit): Seq[(String, String)] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val out = Files.createTempFile("graft-process-starts", ".jfr")
    try {
      rec.start()
      try body finally rec.stop()
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .flatMap(e => graftFrame(e).map(f => e.getString("command") -> f))
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  private def graftFrame(e: RecordedEvent): Option[String] =
    Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala).collectFirst {
      case f if f.isJavaFrame && f.getMethod.getType.getName.startsWith("graft.") &&
                !f.getMethod.getType.getName.startsWith(classOf[ProcessStartSpec].getName) =>
        s"${f.getMethod.getType.getName}.${f.getMethod.getName}:${f.getLineNumber}"
    }

  private def assertNoProcess(what: String)(body: => Unit): Unit = {
    graftProcessStarts(body).headOption.foreach { case (command, frame) =>
      fail(s"$what started a process: `$command` from $frame")
    }
  }

  test("appends, a copying sync batch, a log compaction and a copy-on-write UPDATE " +
       "start no process") {
    val wh = Files.createTempDirectory("graft-proc-us").toString
    val regions = Map(
      "us-east-1" -> new GraftCatalog(spark, wh),
      "eu-west-1" -> new GraftCatalog(spark, Files.createTempDirectory("graft-proc-eu").toString))
    val svc = new GeoReplicationService(spark, regions, "us-east-1")
    val cat = regions("us-east-1")
    cat.createTable("ns", "t")
    svc.registerTable("ns", "t", "us-east-1")
    svc.registerTable("ns", "t", "eu-west-1")
    // warm: one round of every operation, so one-time initialisation
    // (class loading, the first file system client) is not counted
    svc.coordinateWrite("ns", "t", Seq(0L).toDF("id"), "us-east-1")
    assert(svc.processPendingEvents("eu-west-1") === ((2, 0)))
    assert(svc.compactSyncEvents())

    assertNoProcess("a driver-local commitAppend") {
      cat.commitAppend("ns", "t", Seq(1L, 2L).toDF("id"))
    }
    assertNoProcess("a job-staged commitAppend over 4 partitions") {
      cat.commitAppend("ns", "t", spark.range(10, 410, 1, 4).toDF("id"))
    }
    assertNoProcess("a coordinateWrite") {
      svc.coordinateWrite("ns", "t", Seq(3L).toDF("id"), "us-east-1")
    }
    svc.copyBatches = 0
    assertNoProcess("a sync batch that copies files") {
      assert(svc.processPendingEvents("eu-west-1") === ((2, 0)))
    }
    assert(svc.copyBatches > 0, "the sync batch copied no file")
    assertNoProcess("a compaction of the sync-event log") {
      assert(svc.compactSyncEvents())
    }
    val c = graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, wh)
    assertNoProcess("a copy-on-write UPDATE") {
      spark.sql(s"UPDATE $c.ns.t SET id = id + 1000 WHERE id = 3")
    }
    assert(cat.read("ns", "t").count() === 404L)
    assert(cat.read("ns", "t").filter($"id" === 1003L).count() === 1L)
  }
}

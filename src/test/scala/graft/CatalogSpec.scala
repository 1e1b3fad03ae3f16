package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, lit}

import graft.catalog.{GraftCatalog, Wap}
import graft.operators.SnapshotDiff

/** Catalog semantics: DDL, optimistic commits, time travel, incremental
  * reads, history, expiry — the reference's C1-C14 surface, Spark-native. */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-wh").toString)

  test("SQL reads plan the same manifest-pruned file set as readWhere: " +
       "point/range/lineage prune, incommensurable probes keep all files") {
    import org.apache.spark.sql.sources
    val cat = freshCatalog()
    graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, cat.warehouse)
    cat.createTable("ns", "sqlp")
    // three id-clustered files; ts shares ONE second across files so an
    // exact-bound timestamp probe is only correct if bounds are skipped
    def df(lo: Long) = (lo until lo + 3)
      .map(i => (i, s"s$i", java.sql.Timestamp.valueOf("2024-05-01 10:00:00")))
      .toDF("id", "s", "ts").coalesce(1)
    cat.commitAppend("ns", "sqlp", df(1), bloomCols = Seq("id"))
    cat.commitAppend("ns", "sqlp", df(11), bloomCols = Seq("id"))
    cat.commitAppend("ns", "sqlp", df(21), bloomCols = Seq("id"))

    // the SQL scan path's pruner: point probe -> 1 file
    assert(cat.readFilteredLatest("ns", "sqlp",
      Array[sources.Filter](sources.EqualTo("id", 12L)), carryPosition = false)
      .inputFiles.length === 1)
    // range straddling two files -> 2
    assert(cat.readFilteredLatest("ns", "sqlp",
      Array[sources.Filter](sources.GreaterThan("id", 12L),
        sources.LessThanOrEqual("id", 22L)), carryPosition = false)
      .inputFiles.length === 2)
    // untranslatable-for-stats shape keeps everything (conservative)
    assert(cat.readFilteredLatest("ns", "sqlp",
      Array[sources.Filter](sources.StringContains("s", "1")), carryPosition = false)
      .inputFiles.length === 3)
    // a timestamp probe's toString diverges from the stat's cast form:
    // bounds must be SKIPPED (keep all), never compared lexicographically
    assert(cat.readFilteredLatest("ns", "sqlp",
      Array[sources.Filter](sources.EqualTo("ts",
        java.sql.Timestamp.valueOf("2024-05-01 10:00:00"))), carryPosition = false)
      .inputFiles.length === 3)
    // the lineage (metadata-column) read prunes identically and still
    // carries _file/_pos
    val lin = cat.readFilteredLatest("ns", "sqlp",
      Array[sources.Filter](sources.GreaterThanOrEqual("id", 21L)),
      carryPosition = true)
    assert(lin.inputFiles.length === 1)
    assert(lin.columns.toSeq === Seq("id", "s", "ts", "_file", "_pos"))

    // end-to-end SQL: boundary-inclusive results stay exact through the
    // pruned scan (residual row filters still apply above)
    val c = graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, cat.warehouse)
    assert(spark.sql(s"SELECT id FROM $c.ns.sqlp WHERE id >= 3 AND id <= 11 ORDER BY id")
      .as[Long].collect().toSeq === Seq(3L, 11L))
    assert(spark.sql(
      s"SELECT count(*) FROM $c.ns.sqlp WHERE ts = TIMESTAMP'2024-05-01 10:00:00'")
      .head().getLong(0) === 9L)
  }

  test("table/namespace names matching the listing filter refuse at " +
       "create/rename: a '_'/'.'-prefixed table would be readable yet " +
       "invisible to SHOW TABLES and every sweep driven off listings") {
    val cat = freshCatalog()
    intercept[IllegalArgumentException](cat.createTable("ns", "_hidden"))
    intercept[IllegalArgumentException](cat.createTable("ns", ".hidden"))
    intercept[IllegalArgumentException](cat.createTable("_ns", "t"))
    intercept[IllegalArgumentException](cat.createTable("ns", "a/b"))
    cat.createTable("ns", "vis")
    intercept[IllegalArgumentException](
      cat.renameTable("ns", "vis", "ns", "_hidden"))
    intercept[IllegalArgumentException](
      cat.renameTable("ns", "vis", ".ns", "vis"))
    assert(cat.listTables("ns") === Seq("vis"))
  }

  test("a MIXED DSv2 alterTable batch (schema + properties) is ONE atomic " +
       "version — a failed schema half must never leave the property half " +
       "published") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    val cat = freshCatalog()
    cat.createTable("ns", "mix")
    cat.commitAppend("ns", "mix", Seq((1L, "a")).toDF("id", "s"))
    val v1 = cat.latest("ns", "mix").get.seq
    val plugin = new graft.catalog.GraftSparkCatalog
    plugin.initialize("mixcat", new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("warehouse", cat.warehouse)))
    val ident = Identifier.of(Array("ns"), "mix")
    // happy path: one batch, one version, both halves visible
    plugin.alterTable(ident,
      TableChange.setProperty("owner.team", "curation"),
      TableChange.addColumn(Array("extra"), org.apache.spark.sql.types.StringType))
    assert(cat.latest("ns", "mix").get.seq === v1 + 1, "one ALTER = one version")
    assert(cat.tableProperties("ns", "mix").get("owner.team").contains("curation"))
    assert(cat.tableSchema("ns", "mix").get.fieldNames.contains("extra"))
    // failing schema half: the property half must NOT publish
    val v2 = cat.latest("ns", "mix").get.seq
    intercept[Exception] {
      plugin.alterTable(ident,
        TableChange.setProperty("leak", "no"),
        TableChange.addColumn(Array("extra"), // duplicate name -> refused
          org.apache.spark.sql.types.StringType))
    }
    assert(cat.latest("ns", "mix").get.seq === v2, "failed ALTER published a version")
    assert(!cat.tableProperties("ns", "mix").contains("leak"),
      "property half of a failed mixed ALTER leaked")
  }

  test("create/exists/list/drop") {
    val cat = freshCatalog()
    cat.createTable("analytics", "user_events")
    cat.createTable("analytics", "clicks")
    cat.createTable("other", "t")
    assert(cat.tableExists("analytics", "user_events"))
    assert(cat.listTables("analytics") === Seq("clicks", "user_events"))
    assert(cat.listTablesPaginated("analytics", 1, 5) === Seq("user_events"))
    cat.dropTable("analytics", "clicks")
    assert(!cat.tableExists("analytics", "clicks"))
  }

  test("commit log round-trips paths containing quotes, commas, brackets and backslashes") {
    val wh = Files.createTempDirectory("graft-wh-weird").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ns", "t")
    val weird = """we"ird,na]me \back [x].parquet"""
    Files.write(cat.tablePath("ns", "t").resolve(s"data/$weird"), Array[Byte](1, 2))
    cat.commitFiles("ns", "t", Seq(s"data/$weird"), "local")
    // a SECOND catalog instance has a cold cache -> must re-parse the log
    val cat2 = new GraftCatalog(spark, wh)
    val reread = cat2.latest("ns", "t").get
    assert(cat2.dataFiles("ns", "t", reread) === Seq(s"data/$weird"))
    assert(cat2.dataFileEntries("ns", "t", reread) === Seq((s"data/$weird", 2L)))
  }

  test("append commits chain parents and accumulate files; time travel reads exact versions") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    val s0 = cat.commitAppend("ns", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val s1 = cat.commitAppend("ns", "t", Seq((3L, "c")).toDF("id", "v"))
    assert(s0.seq === 0 && s1.seq === 1)
    assert(s1.parentId === Some(s0.commitId))
    assert(cat.read("ns", "t").count() === 3)
    assert(cat.readVersion("ns", "t", 0).count() === 2)
    assert(cat.latest("ns", "t").get.commitId === s1.commitId)
    assert(cat.byCommitId("ns", "t", s0.commitId).get.seq === 0)
  }

  test("incremental read returns only rows from files added in the range (Y14)") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", Seq(1L, 2L).toDF("id"))
    cat.commitAppend("ns", "t", Seq(3L).toDF("id"))
    cat.commitAppend("ns", "t", Seq(4L, 5L).toDF("id"))
    val inc = cat.readIncremental("ns", "t", 0, 2).as[Long].collect().sorted
    assert(inc === Array(3L, 4L, 5L))
    // the same diff via the generic operator over files metadata tables
    val v0Files = cat.filesTable("ns", "t", 0).count()
    val v2Files = cat.filesTable("ns", "t", 2).count()
    val added = SnapshotDiff.addedFiles(
      cat.filesTable("ns", "t", 0), cat.filesTable("ns", "t", 2), Seq("path"))
    assert(added.count() === v2Files - v0Files)
  }

  test("history is ordered and complete") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    (1 to 3).foreach(i => cat.commitAppend("ns", "t", Seq(i.toLong).toDF("id")))
    val h = cat.history("ns", "t").select("seq", "file_cnt").as[(Long, Long)].collect()
    assert(h.map(_._1) === Array(0L, 1L, 2L))
    assert(h.map(_._2) === Array(1L, 2L, 3L))
  }

  test("concurrent committers both land via CAS retry (C12)") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    val threads = (1 to 4).map { i =>
      new Thread(() => { cat.commitAppend("ns", "t", Seq(i.toLong).toDF("id")): Unit })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val snaps = cat.snapshots("ns", "t")
    assert(snaps.map(_.seq) === Seq(0L, 1L, 2L, 3L), "all four commits must land on distinct versions")
    assert(cat.read("ns", "t").count() === 4)
    // parent chain must be linear
    val byId = snaps.map(s => s.commitId -> s).toMap
    snaps.filter(_.seq > 0).foreach(s =>
      assert(byId(s.parentId.get).seq === s.seq - 1))
  }

  test("compaction bin-packs to the file-size target and preserves data; expire reclaims old files") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    (1 to 5).foreach(i => cat.commitAppend("ns", "t", Seq(i.toLong, i * 10L).toDF("id")))
    val before = cat.latest("ns", "t").get
    // capture the file list now: expiry below deletes the manifests too
    val beforeFiles = cat.dataFiles("ns", "t", before)
    assert(beforeFiles.size >= 5, "appends should have created many small files")
    val compacted = cat.compact("ns", "t", targetFileBytes = Long.MaxValue)
    assert(cat.dataFiles("ns", "t", compacted).size === 1, "everything fits one target-size file")
    assert(cat.read("ns", "t").count() === 10)
    assert(cat.read("ns", "t").as[Long].collect().sorted
      === (1 to 5).flatMap(i => Seq(i.toLong, i * 10L)).sorted.toArray)
    // old small files are unreachable from the kept (compacted) version
    val removed = cat.expireSnapshots("ns", "t", retainLast = 1)
    assert(removed.toSet === beforeFiles.toSet)
    assert(cat.read("ns", "t").count() === 10)
  }

  test("schema per version: additive evolution is recorded, drops and retypes are rejected") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", Seq((1L, "a")).toDF("id", "v"))
    // additive: a new column lands and is recorded on the new version
    cat.commitAppend("ns", "t", Seq((2L, "b", 0.5)).toDF("id", "v", "score"))
    assert(cat.read("ns", "t").columns.toSeq === Seq("id", "v", "score"))
    // time travel sees each version's OWN shape
    assert(cat.readVersion("ns", "t", 0).columns.toSeq === Seq("id", "v"))
    // the old file reads under the evolved schema with nulls for the new column
    assert(cat.read("ns", "t").filter($"score".isNull).count() === 1)
    // dropping a column is rejected before any data is staged
    intercept[IllegalArgumentException](
      cat.commitAppend("ns", "t", Seq(3L).toDF("id")))
    // retyping a column is rejected
    intercept[IllegalArgumentException](
      cat.commitAppend("ns", "t", Seq(("x", "c", 1.0)).toDF("id", "v", "score")))
    assert(cat.latest("ns", "t").get.seq === 1, "rejected commits must not create versions")
  }

  test("expireOlderThan expires by age but always keeps the min-snapshots floor (G1 age form)") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    (1 to 4).foreach(i => cat.commitAppend("ns", "t", Seq(i.toLong).toDF("id")))
    // everything is older than the horizon, but the floor keeps the last 2
    cat.expireOlderThan("ns", "t", olderThanMs = System.currentTimeMillis() + 60000,
      minSnapshotsToKeep = 2)
    assert(cat.snapshots("ns", "t").map(_.seq) === Seq(2L, 3L))
    // nothing younger than a past horizon expires
    cat.expireOlderThan("ns", "t", olderThanMs = 0L, minSnapshotsToKeep = 1)
    assert(cat.snapshots("ns", "t").map(_.seq) === Seq(2L, 3L))
  }

  test("conditional replace aborts on a concurrent append and leaves no orphan artifacts") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", Seq(1L).toDF("id"))
    val seen = cat.latest("ns", "t").get.seq
    // an append lands AFTER the compactor read the table (the lost-update race)
    cat.commitAppend("ns", "t", Seq(2L).toDF("id"))
    intercept[java.util.ConcurrentModificationException](
      cat.commitReplace("ns", "t", Seq(9L).toDF("id"), expectedParentSeq = Some(seen)))
    // the concurrent append survives; the aborted replace is invisible
    assert(cat.read("ns", "t").as[Long].collect().sorted === Array(1L, 2L))
    // no orphans: every on-disk manifest is referenced, every data file reachable
    val referenced = cat.snapshots("ns", "t").flatMap(_.manifests).toSet
    val onDisk = {
      val md = cat.tablePath("ns", "t").resolve("_meta/manifests")
      val s = Files.list(md)
      try s.iterator().asScala.map(p => s"_meta/manifests/${p.getFileName}").toSet
      finally s.close()
    }
    assert(onDisk === referenced, "aborted replace must clean up its staged manifest")
    val reachable = cat.snapshots("ns", "t")
      .flatMap(s => cat.dataFiles("ns", "t", s)).toSet
    val dataOnDisk = {
      val dd = cat.tablePath("ns", "t").resolve("data")
      val s = Files.walk(dd)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => cat.tablePath("ns", "t").relativize(p).toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    assert(dataOnDisk === reachable, "aborted replace must clean up its staged data files")
  }

  test("commit log survives control characters in paths and regions (JSON escaping)") {
    val wh = Files.createTempDirectory("graft-wh-ctl").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ns", "t")
    val ctl = "we\tird\nname.parquet" // tab + newline are legal in POSIX names
    Files.write(cat.tablePath("ns", "t").resolve(s"data/$ctl"), Array[Byte](1, 2, 3))
    cat.commitFiles("ns", "t", Seq(s"data/$ctl"), "region\nwith\tctl")
    val cat2 = new GraftCatalog(spark, wh) // cold cache -> full re-parse
    val snap = cat2.latest("ns", "t").get
    assert(cat2.dataFiles("ns", "t", snap) === Seq(s"data/$ctl"))
    assert(snap.sourceRegion === "region\nwith\tctl")
  }

  test("commitFiles with a caller commitId is an idempotent no-op on replay") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    Files.write(cat.tablePath("ns", "t").resolve("data/f1.parquet"), Array[Byte](1))
    cat.commitFiles("ns", "t", Seq("data/f1.parquet"), "r1", commitId = Some("sync-c1"))
    val v = cat.latest("ns", "t").get.seq
    val e = intercept[GraftCatalog.DuplicateCommitException] {
      cat.commitFiles("ns", "t", Seq("data/f1.parquet"), "r1", commitId = Some("sync-c1"))
    }
    assert(e.commitId === "sync-c1")
    assert(cat.latest("ns", "t").get.seq === v, "replay must not add a version")
  }

  test("concurrent commitFiles retries do not orphan manifests") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    // land 4 files on disk, register them from 4 racing committers (CAS retries)
    val names = (1 to 4).map { i =>
      val f = s"data/landed-$i.parquet"
      Files.write(cat.tablePath("ns", "t").resolve(f), Array[Byte](i.toByte))
      f
    }
    val threads = names.map(f =>
      new Thread(() => { cat.commitFiles("ns", "t", Seq(f), "remote"): Unit }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(cat.snapshots("ns", "t").size === 4)
    assert(cat.dataFiles("ns", "t", cat.latest("ns", "t").get).toSet === names.toSet)
    val referenced = cat.snapshots("ns", "t").flatMap(_.manifests).toSet
    val onDisk = {
      val md = cat.tablePath("ns", "t").resolve("_meta/manifests")
      val s = Files.list(md)
      try s.iterator().asScala.map(p => s"_meta/manifests/${p.getFileName}").toSet
      finally s.close()
    }
    assert(onDisk === referenced, "every CAS retry must drop its previous attempt's manifest")
  }

  test("commitFilesReplace: kept files survive expiry though doubly-manifested, " +
       "dropped files reclaim, post-replace dedup uses the replaced set, " +
       "replayed commitIds reject, and races land linearly") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    val names = (1 to 3).map { i =>
      val f = s"data/landed-$i.parquet"
      Files.write(cat.tablePath("ns", "t").resolve(f), Array[Byte](i.toByte))
      f
    }
    cat.commitFiles("ns", "t", Seq(names(0), names(1)), "r1") // v0: f1 f2
    // replace keeps f2 (now referenced by TWO manifests), drops f1, adds f3
    cat.commitFilesReplace("ns", "t", Seq(names(1), names(2)), "r1",
      commitId = Some("rep-1"))                               // v1: f2 f3
    assert(cat.dataFiles("ns", "t", cat.latest("ns", "t").get).toSet ===
      Set(names(1), names(2)))
    // a replayed snapshot id must not re-land
    val e = intercept[GraftCatalog.DuplicateCommitException] {
      cat.commitFilesReplace("ns", "t", Seq(names(0)), "r1", commitId = Some("rep-1"))
    }
    assert(e.commitId === "rep-1")
    // commitFiles of an already-live file dedups against the REPLACED
    // set (the latestFileSet cache must reflect the replace, not v0)
    val v2 = cat.commitFiles("ns", "t", Seq(names(1)), "r1")
    assert(v2.fileCount === 2L, "kept file must not double-register")
    assert(cat.dataFiles("ns", "t", v2).toSet === Set(names(1), names(2)))
    // expiry: f1 is unreachable from kept v1/v2; f2 survives even though
    // two manifests reference it
    val removed = cat.expireSnapshots("ns", "t", retainLast = 2)
    assert(removed.toSet === Set(names(0)))
    assert(Files.exists(cat.tablePath("ns", "t").resolve(names(1))))
    // race: replaces and appends interleave via CAS onto distinct versions
    val threads = Seq(
      new Thread(() => { cat.commitFilesReplace("ns", "t", Seq(names(2)), "r1"): Unit }),
      new Thread(() => { cat.commitFiles("ns", "t", Seq(names(1)), "r1"): Unit }),
      new Thread(() => { cat.commitFilesReplace("ns", "t", Seq(names(1), names(2)), "r1"): Unit }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val snaps = cat.snapshots("ns", "t")
    assert(snaps.map(_.seq) === (snaps.head.seq to snaps.last.seq),
      "every racer must land on its own consecutive version")
    val byId = snaps.map(s => s.commitId -> s).toMap
    snaps.tail.foreach(s => assert(byId(s.parentId.get).seq === s.seq - 1,
      "parent chain must stay linear under the race"))
  }

  test("backfillStats: same-basename files across directories get their OWN " +
       "bounds, and zero-row files record count 0 so the second call is a no-op") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    // two registered files with the SAME basename in different dirs and
    // DISJOINT id ranges — a basename-keyed stats join would hand one
    // file the other's bounds and pruning would drop real rows
    def land(dir: String, ids: Range): String = {
      val staged = Files.createDirectories(cat.tablePath("ns", "t").resolve(s"data/$dir"))
      val tmp = Files.createTempDirectory("bf-stage")
      ids.map(i => (i.toLong, s"r$i")).toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, staged.resolve("part.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      s"data/$dir/part.parquet"
    }
    val fa = land("a", 0 until 100)
    val fb = land("b", 1000 until 1100)
    val schemaJson = Seq((1L, "x")).toDF("id", "v").schema.json
    cat.commitFiles("ns", "t", Seq(fa, fb), "remote", schemaJson = Some(schemaJson))
    val (_, rewritten) = cat.backfillStats("ns", "t")
    assert(rewritten === 1)
    assert(cat.countFastOpt("ns", "t") === Some(200L))
    val pruned = cat.readWhere("ns", "t", "id", Some("0"), Some("99"))
    assert(pruned.inputFiles.length === 1,
      "the disjoint-range file must be pruned away on ITS OWN bounds")
    assert(pruned.select("id").as[Long].collect().sorted === (0L until 100L).toArray)

    // zero-row file: records __rows 0 (no bounds), stays countable and
    // does NOT break idempotence
    val empty = {
      val staged = Files.createDirectories(cat.tablePath("ns", "t").resolve("data/e"))
      val tmp = Files.createTempDirectory("bf-empty")
      Seq.empty[(Long, String)].toDF("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.move(part, staged.resolve("empty.parquet"))
      "data/e/empty.parquet"
    }
    cat.commitFiles("ns", "t", Seq(empty), "remote")
    val (snapA, r2) = cat.backfillStats("ns", "t")
    assert(r2 === 1, "the empty file's manifest gets its zero count")
    assert(cat.countFastOpt("ns", "t") === Some(200L))
    val (snapB, r3) = cat.backfillStats("ns", "t")
    assert(r3 === 0, "second call must be a no-op even with a zero-row file")
    assert(snapB.seq === snapA.seq)
  }

  test("expireSnapshots removes only files unreachable from kept versions (G1/G2)") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    (1 to 4).foreach(i => cat.commitAppend("ns", "t", Seq(i.toLong).toDF("id")))
    val removed = cat.expireSnapshots("ns", "t", retainLast = 2)
    // appends accumulate files, so files of expired v0/v1 are still
    // reachable from kept v2/v3 - nothing must be deleted
    assert(removed.isEmpty)
    assert(cat.snapshots("ns", "t").map(_.seq) === Seq(2L, 3L))
    assert(cat.read("ns", "t").count() === 4)
    intercept[IllegalArgumentException](cat.readVersion("ns", "t", 0))
  }

  test("manifest min/max bounds prune the file list; results stay exact") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    // 1000 rows clustered into 10 files of tight id ranges
    cat.commitAppend("ns", "t",
      (0 until 1000).map(i => (i.toLong, s"row$i")).toDF("id", "payload")
        .repartitionByRange(10, org.apache.spark.sql.functions.col("id")))
    val allFiles = cat.read("ns", "t").inputFiles.length
    assert(allFiles === 10)

    val pruned = cat.readWhere("ns", "t", "id", Some("150"), Some("249"))
    assert(pruned.inputFiles.length <= 2, // two 100-row ranges cover [150,249]
      s"expected <=2 files read, got ${pruned.inputFiles.length} of $allFiles")
    assert(pruned.select("id").as[Long].collect().sorted === (150L to 249L).toArray)

    // numeric bounds compare numerically, not lexicographically: "1000" vs "999"
    val hi = cat.readWhere("ns", "t", "id", Some("999"), None)
    assert(hi.count() === 1)

    // string column pruning + residual filter
    val s0 = cat.readWhere("ns", "t", "payload", Some("row100"), Some("row101"))
    assert(s0.select("payload").as[String].collect().sorted === Array("row100", "row101"))

    // files without recorded bounds (foreign commitFiles) are never pruned away
    val raw = (2000L to 2004L).map(i => (i, s"x$i")).toDF("id", "payload")
    val staged = java.nio.file.Files.createDirectories(
      cat.tablePath("ns", "t").resolve("data/foreign"))
    raw.coalesce(1).write.mode("overwrite").parquet(staged.toString)
    val landed = java.nio.file.Files.list(staged).iterator()
    val files = new scala.collection.mutable.ArrayBuffer[String]
    while (landed.hasNext) {
      val f = landed.next().getFileName.toString
      if (f.endsWith(".parquet")) files += s"data/foreign/$f"
    }
    cat.commitFiles("ns", "t", files.toSeq, sourceRegion = "remote")
    val afterForeign = cat.readWhere("ns", "t", "id", Some("2000"), None)
    assert(afterForeign.count() === 5, "stat-less foreign files must still be read")
  }

  test("layout evolution: pruning stays exact across eras clustered by different columns") {
    // The Iceberg hidden-partitioning property, on the stats-pruning
    // design: clustering choice affects pruning EFFECTIVENESS only,
    // never correctness — so a table can re-cluster mid-life (era 1 by
    // id, era 2 by score) and every old reader keeps working. Predicates
    // on id prune hard inside era 1 and degrade to scan-all inside
    // era 2; contents stay exact either way.
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cat = freshCatalog()
    cat.createTable("ns", "evo")
    // era 1: ids 0..499 clustered by id (5 tight files)
    cat.commitAppend("ns", "evo",
      (0 until 500).map(i => (i.toLong, (i * 7 % 100).toLong)).toDF("id", "score")
        .repartitionByRange(5, col("id")))
    // era 2: ids 500..999 clustered by score (5 files, each spanning ALL ids)
    cat.commitAppend("ns", "evo",
      (500 until 1000).map(i => (i.toLong, (i * 7 % 100).toLong)).toDF("id", "score")
        .repartitionByRange(5, col("score")))
    assert(cat.read("ns", "evo").inputFiles.length === 10)

    // id band inside era 2's span: every era-1 file is excluded by its id
    // bounds, but NO era-2 file can be pruned (each score-clustered file
    // spans nearly the whole 500..999 id range) — pruning quality tracks
    // the clustering of the era that owns the data
    val idBand = cat.readWhere("ns", "evo", "id", Some("600"), Some("699"))
    assert(idBand.inputFiles.length === 5,
      s"id band should read exactly the 5 era-2 files, got ${idBand.inputFiles.length}")
    assert(idBand.select("id").as[Long].collect().sorted === (600L to 699L).toArray)

    // score predicate: prunes era 2 hard, reads era 1 fully — the mirror
    val scoreBand = cat.readWhere("ns", "evo", "score", Some("0"), Some("19"))
    assert(scoreBand.inputFiles.length <= 5 + 1,
      s"score band read ${scoreBand.inputFiles.length} files")
    val expected = (0 until 1000).map(i => (i.toLong, (i * 7 % 100).toLong))
      .filter { case (_, s) => s >= 0 && s <= 19 }.map(_._1).sorted
    assert(scoreBand.select("id").as[Long].collect().sorted === expected.toArray)

    // sorted compaction re-establishes ONE id-clustered layout: the same
    // id band now prunes to ~1 of the rewritten files, contents unchanged
    val bytes = cat.latest("ns", "evo").get.totalBytes
    cat.compactSorted("ns", "evo", math.max(1L, bytes / 10), Seq("id"))
    val after = cat.readWhere("ns", "evo", "id", Some("600"), Some("699"))
    assert(after.inputFiles.length <= 2,
      s"sorted rewrite should restore tight pruning, read ${after.inputFiles.length}")
    assert(after.select("id").as[Long].collect().sorted === (600L to 699L).toArray)
    assert(cat.read("ns", "evo").count() === 1000L)
  }

  test("countFast answers from manifests alone — survives data-file loss; deletes force a scan") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("ns", "cnt")
    cat.commitAppend("ns", "cnt", (1 to 123).map(i => (i.toLong, s"r$i")).toDF("id", "v"))
    cat.commitAppend("ns", "cnt", (124 to 200).map(i => (i.toLong, s"r$i")).toDF("id", "v"))
    assert(cat.countFast("ns", "cnt") === 200L)
    // the metadata-only PROOF: remove every data file; the count still
    // answers (a scan would throw)
    val dataDir = cat.tablePath("ns", "cnt").resolve("data")
    Files.walk(dataDir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => if (!java.nio.file.Files.isDirectory(p)) Files.delete(p))
    assert(cat.countFast("ns", "cnt") === 200L)

    // a version carrying equality-delete manifests cannot be counted
    // from metadata (net effect is data-dependent) — falls back to the
    // exact MOR scan
    val cat2 = freshCatalog()
    cat2.createTable("ns", "mor")
    cat2.commitAppend("ns", "mor", (1 to 50).map(i => (i.toLong, i)).toDF("id", "v"))
    cat2.commitDelete("ns", "mor", Seq(5L, 6L, 999L).toDF("id"))
    assert(cat2.countFast("ns", "mor") === 48L)
    // empty table counts 0 without error
    cat2.createTable("ns", "empty")
    assert(cat2.countFast("ns", "empty") === 0L)
  }

  test("minMaxFast folds manifest bounds: exact, numeric-aware, refuses deletes") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("ns", "mm")
    // two commits so bounds fold ACROSS manifests; ids 2..1000 —
    // lexicographic min would be "10", numeric must say 2
    cat.commitAppend("ns", "mm", Seq((2L, "b"), (1000L, "a")).toDF("id", "v"))
    cat.commitAppend("ns", "mm", Seq((10L, "z"), (500L, "m")).toDF("id", "v"))
    assert(cat.minMaxFast("ns", "mm", "id") === Some(("2", "1000")))
    assert(cat.minMaxFast("ns", "mm", "v") === Some(("a", "z")))
    assert(cat.minMaxFast("ns", "mm", "no_such_col") === None)
    cat.commitDelete("ns", "mm", Seq(2L).toDF("id"))
    assert(cat.minMaxFast("ns", "mm", "id") === None,
      "delete manifests make metadata bounds unverifiable")
    // a double column whose bounds record "NaN" answers None, not a
    // NumberFormatException (the readWhereAll guard, mirrored)
    val cat3 = freshCatalog()
    cat3.createTable("ns", "nan")
    cat3.commitAppend("ns", "nan",
      Seq((1L, 1.5), (2L, Double.NaN)).toDF("id", "x"))
    assert(cat3.minMaxFast("ns", "nan", "x") === None)
    assert(cat3.minMaxFast("ns", "nan", "id") === Some(("1", "2")))
  }

  test("write-audit-publish: clean batches publish atomically, dirty batches park on their branch") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cat = freshCatalog()
    cat.createTable("ns", "wap")
    cat.commitAppend("ns", "wap",
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "score"))
    val rules = Seq[(String, org.apache.spark.sql.Column)](
      "score_positive" -> (col("score") > 0),
      "id_not_null" -> col("id").isNotNull)

    // clean batch: publishes, main advances, the staging branch is gone
    val ok = Wap.writeAuditPublish(cat, "ns", "wap",
      Seq((3L, 30.0)).toDF("id", "score"), rules, uniqueCols = Some(Seq("id")))
    assert(ok.isInstanceOf[Wap.Published])
    assert(cat.read("ns", "wap").count() === 3L)
    assert(cat.listBranches("ns", "wap").isEmpty)

    // dirty batch: negative score AND a key that duplicates published
    // data (the cross-batch check only the BRANCH state can see)
    val bad = Wap.writeAuditPublish(cat, "ns", "wap",
      Seq((2L, -5.0)).toDF("id", "score"), rules, uniqueCols = Some(Seq("id")))
    val rej = bad.asInstanceOf[Wap.Rejected]
    val byRule = rej.report.map(r => r._1 -> r._2).toMap
    assert(byRule("score_positive") === 1L && byRule("unique_id") === 1L)
    // main never saw the batch; the branch kept it for forensics
    assert(cat.read("ns", "wap").count() === 3L)
    assert(cat.readBranch("ns", "wap", rej.branch).count() === 4L)

    // audit reads the branch, so a VALID batch staged while main moved
    // underneath still refuses to publish (merge conflict, loud)
    val conflictBranch = "wap-conflict"
    cat.createBranch("ns", "wap", conflictBranch)
    cat.commitAppend("ns", "wap", Seq((9L, 90.0)).toDF("id", "score"))
    assertThrows[GraftCatalog.MergeConflictException] {
      cat.fastForwardMerge("ns", "wap", conflictBranch)
    }
  }

  test("WAP of an empty batch onto an empty table publishes cleanly " +
       "(regression: NULL audit aggregates must read as 0 violations)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cat = freshCatalog()
    cat.createTable("ns", "wap0")
    // SQL CREATE TABLE's empty v0: zero rows, declared schema
    cat.commitAppend("ns", "wap0", Seq.empty[(Long, Double)].toDF("id", "score"))
    // empty batch onto the empty table: every audit aggregate sums zero
    // rows — the r6 advisory NPE (getLong on NULL) crashed AFTER the
    // branch was created, leaking it; now it must publish cleanly
    val out = Wap.writeAuditPublish(cat, "ns", "wap0",
      Seq.empty[(Long, Double)].toDF("id", "score"),
      rowRules = Seq[(String, org.apache.spark.sql.Column)](
        "score_positive" -> (col("score") > 0)),
      uniqueCols = Some(Seq("id")))
    assert(out.isInstanceOf[Wap.Published])
    assert(cat.listBranches("ns", "wap0").isEmpty, "no leaked staging branch")
    assert(cat.read("ns", "wap0").count() === 0L)
  }

  test("z-order clustering prunes files on BOTH dimensions from one layout") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cat = freshCatalog()
    cat.createTable("ns", "z")
    // 64x64 grid of (x, y) points, committed clustered by the Morton key:
    // 16 files, each covering a compact 2-D tile instead of a stripe
    val grid = (for (x <- 0 until 64; y <- 0 until 64) yield (x.toLong, y.toLong, x * 64L + y))
      .toDF("x", "y", "payload")
    cat.commitAppend("ns", "z", grid
      .repartitionByRange(16, graft.functions.PqFunctions.zorder2(col("x"), col("y"))))
    val all = cat.read("ns", "z").inputFiles.length
    assert(all === 16)

    val px = cat.readWhere("ns", "z", "x", Some("0"), Some("7"))
    val py = cat.readWhere("ns", "z", "y", Some("0"), Some("7"))
    assert(px.inputFiles.length < all, s"x-band read ${px.inputFiles.length}/$all")
    assert(py.inputFiles.length < all, s"y-band read ${py.inputFiles.length}/$all")
    assert(px.count() === 8 * 64 && py.count() === 64 * 8)

    // 2-D conjunction: a corner tile reads the fewest files of all
    val corner = cat.readWhereAll("ns", "z",
      Seq(("x", Some("0"), Some("7")), ("y", Some("0"), Some("7"))))
    assert(corner.count() === 64)
    assert(corner.inputFiles.length <= math.min(px.inputFiles.length, py.inputFiles.length))
    assert(corner.inputFiles.length <= 2, s"corner tile read ${corner.inputFiles.length} files")
  }

  test("manifest scale: 50k-file table — O(new files) commits, distributed listing and diff") {
    val cat = freshCatalog()
    cat.createTable("ns", "big")
    val base = cat.tablePath("ns", "big")
    Files.createDirectories(base.resolve("data"))
    val batches = 100; val perBatch = 500 // 50k files total
    val timings = Array.ofDim[Double](batches)
    (0 until batches).foreach { b =>
      val files = (0 until perBatch).map { i =>
        val rel = s"data/f-$b-$i.bin"
        Files.write(base.resolve(rel), Array[Byte](1)); rel
      }
      val t0 = System.nanoTime()
      cat.commitFiles("ns", "big", files, sourceRegion = "local")
      timings(b) = (System.nanoTime() - t0) / 1e6
    }
    val snaps = cat.snapshots("ns", "big")
    assert(snaps.size === batches && snaps.last.fileCount === batches.toLong * perBatch)
    // commit = O(new files) structurally: exactly ONE manifest added per
    // commit, prior manifests never rewritten (manifest count on disk ==
    // commit count; manifests are immutable by construction)
    snaps.sliding(2).foreach { case Seq(p, c) =>
      assert(c.manifests.size === p.manifests.size + 1, s"commit ${c.seq} rewrote manifests")
    }
    val mlist = Files.list(base.resolve("_meta/manifests"))
    try assert(mlist.count() === batches.toLong) finally mlist.close()
    // commit cost stays flat as the table grows 100x: generous 10x bound
    // rides out CPU steal but catches an O(table)-per-commit regression
    val first = timings.slice(2, 22).sum / 20
    val last = timings.takeRight(20).sum / 20
    assert(last < first * 10, f"commit cost grew with table size: first=$first%.1fms last=$last%.1fms")
    info(f"commit cost: first-20 avg $first%.1f ms, last-20 avg $last%.1f ms (table 100x larger)")

    // listing is a real distributed file-source scan of the manifests —
    // the driver never materializes the 50k-row file list
    val head = cat.filesTable("ns", "big", snaps.last.seq)
    assert(head.count() === batches.toLong * perBatch)
    assert(head.queryExecution.executedPlan.toString.contains("FileScan json"),
      "filesTable must plan as a distributed manifest scan")
    // snapshot diff runs over the same distributed listings
    val mid = cat.filesTable("ns", "big", snaps(batches / 2).seq)
    assert(SnapshotDiff.addedFiles(mid, head, Seq("path")).count()
      === snaps.last.fileCount - snaps(batches / 2).fileCount)
  }

  test("filesTable reads a few manifests on the driver with no job, and returns the " +
       "JSON scan's multiset: data, equality- and position-delete manifests, a replace") {
    val cat = freshCatalog()
    cat.createTable("ns", "fm")
    cat.commitAppend("ns", "fm", (0 until 40).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(3))
    cat.commitDelete("ns", "fm", Seq(3L, 4L).toDF("id"))
    cat.commitDeletePositions("ns", "fm", cat.positionsWhere("ns", "fm", col("id") === 7L))
    val kept = cat.dataFiles("ns", "fm", cat.latest("ns", "fm").get)
    // the replace re-manifests the files it keeps
    cat.commitFilesReplace("ns", "fm", kept.take(2), "r1")
    cat.commitAppend("ns", "fm", Seq((100L, "w")).toDF("id", "v"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    cat.snapshots("ns", "fm").foreach { s =>
      val (local, jobs) = withJobs(rows(cat.filesTable("ns", "fm", s.seq)))
      assert(jobs.isEmpty, s"v${s.seq}: a ${s.manifests.size}-manifest filesTable ran jobs: $jobs")
      val scanned = {
        val df = cat.filesTableScan("ns", "fm", s.seq)
        assert(df.queryExecution.executedPlan.toString.contains("FileScan json"))
        rows(df)
      }
      assert(local === scanned, s"v${s.seq}")
      assert(local.size.toLong ===
        s.manifests.map(m => Files.readAllLines(cat.tablePath("ns", "fm").resolve(m)).size).sum)
    }
  }

  test("filesTable past Spark's task-size bound in manifest bytes plans a JSON scan " +
       "through the manifests and starts no job while the frame is built") {
    val cat = freshCatalog()
    cat.createTable("ns", "wide")
    // each file's bounds are keyed by 15 column names of 40,000
    // characters (under the JSON reader's 50,000-character name limit),
    // so two files carry the version's manifests past the bound (a long
    // string value no longer can: its bounds are cut to 16 characters)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType((1 to 15).map(i => StructField(s"c$i" + "v" * 40000, LongType)))
    Seq(1L, 2L).foreach(k => cat.commitAppend("ns", "wide",
      spark.createDataFrame(Seq(Row.fromSeq(Seq.fill(15)(k))).asJava, schema)))
    val head = cat.latest("ns", "wide").get
    val bytes = head.manifests.map(m => Files.size(cat.tablePath("ns", "wide").resolve(m))).sum
    assert(bytes > GraftCatalog.LocalFilesTableBytes)
    val (df, jobs) = withJobs {
      val df = cat.filesTable("ns", "wide", head.seq)
      assert(df.queryExecution.executedPlan.toString.contains("FileScan json"))
      df
    }
    assert(jobs.isEmpty, s"building a scan-side filesTable ran jobs: $jobs")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ===
      cat.dataFileEntries("ns", "wide", head).toSet)
    // the version before it is under the bound: a driver-local frame
    assert(cat.filesTable("ns", "wide", 0).queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
  }

  test("expiry keeps the promoted version and every version above it, so a commit whose " +
       "parent is the promoted version, linking after such an expiry, retries onto the head") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    (1L to 2L).foreach(i => cat.commitAppend("ns", "t", Seq(i).toDF("id")))
    val promoted = cat.latest("ns", "t").get.seq
    cat.setVisibility("ns", "t", promoted, 0L)
    var fired = false
    // the stale committer has read its parent (the promoted version);
    // three commits and an expiry land before it links
    cat.beforeLink = { snap =>
      if (!fired && snap.seq == promoted + 1) {
        fired = true
        (3L to 5L).foreach(i => cat.commitAppend("ns", "t", Seq(i).toDF("id")))
        cat.expireBefore("ns", "t", cat.latest("ns", "t").get.seq)
        assert(cat.snapshots("ns", "t").map(_.seq) === (promoted to promoted + 3))
      }
    }
    val landed = try cat.commitAppend("ns", "t", Seq(99L).toDF("id"))
      finally cat.beforeLink = _ => ()
    assert(fired)
    assert(landed.seq === promoted + 4, "the commit linked below the head")
    assert(cat.latest("ns", "t").get.seq === landed.seq)
    assert(cat.read("ns", "t").as[Long].collect().sorted === Array(1L, 2L, 3L, 4L, 5L, 99L))
    // with no promotion the expiry keeps only what it is asked to
    cat.setVisibility("ns", "t", landed.seq, 0L)
    cat.expireBefore("ns", "t", landed.seq)
    assert(cat.snapshots("ns", "t").map(_.seq) === Seq(landed.seq))
  }

  test("a column name past the JSON key limit records no bounds or Blooms, and both " +
       "filesTable sides return the same (path, size) rows with no nulls") {
    val cat = freshCatalog()
    cat.createTable("ns", "longname")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val long = "c" + "v" * 60000
    val schema = StructType(Seq(StructField("id", LongType), StructField(long, LongType)))
    Seq(1L, 2L).foreach(k => cat.commitAppend("ns", "longname",
      spark.createDataFrame(Seq(Row(k, k * 10)).asJava, schema)))
    val head = cat.latest("ns", "longname").get
    val text = head.manifests
      .map(m => Files.readString(cat.tablePath("ns", "longname").resolve(m))).mkString
    assert(!text.contains(long), "the long name was recorded as a stats key")
    assert(text.contains("\"id\""), "the short column keeps its bounds")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (Option(r.getString(0)), Option(r.get(1)))).toSeq.sortBy(_.toString)
    val local = rows(cat.filesTable("ns", "longname", head.seq))
    val scanned = rows(cat.filesTableScan("ns", "longname", head.seq))
    assert(local.size === 2 && local.forall(r => r._1.nonEmpty && r._2.nonEmpty), s"$local")
    assert(scanned === local)
    assert(cat.read("ns", "longname").filter(col(s"`$long`") === 20L).count() === 1L)
  }

  test("filesTable refuses a version missing from the log, naming the table and seq: " +
       "an expired one and one never committed") {
    val cat = freshCatalog()
    cat.createTable("ns", "gone")
    (1 to 3).foreach(i => cat.commitAppend("ns", "gone", Seq(i.toLong).toDF("id")))
    cat.expireSnapshots("ns", "gone", retainLast = 1)
    Seq(0L, 9L).foreach { seq =>
      val e = intercept[NoSuchElementException](cat.filesTable("ns", "gone", seq))
      assert(e.getMessage.contains("ns.gone") && e.getMessage.contains(s"version $seq"),
        e.getMessage)
      intercept[NoSuchElementException](cat.filesTableScan("ns", "gone", seq))
    }
    assert(cat.filesTable("ns", "gone", 2).count() === 3L)
  }

  test("per-file blooms prune point lookups on hash-distributed keys where min/max cannot") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    val df = (0L until 2000L).map(i => (i, s"row$i")).toDF("id", "payload").repartition(10)
    cat.commitAppend("ns", "t", df, bloomCols = Seq("id"))
    val all = cat.read("ns", "t").inputFiles.length
    assert(all === 10)
    // hash-distributed keys: every file's [min, max] covers the probe, so
    // range pruning reads everything — exactly the case blooms exist for
    val ranged = cat.readWhere("ns", "t", "id", Some("777"), Some("777"))
    assert(ranged.inputFiles.length === all)
    val point = cat.readWhereEquals("ns", "t", "id", "777")
    assert(point.inputFiles.length <= 2,
      s"bloom failed to prune: ${point.inputFiles.length} of $all files")
    assert(point.as[(Long, String)].collect().toSeq === Seq((777L, "row777")))
    // an absent key prunes everywhere (no file's bloom can claim it) and
    // still returns a correctly-typed empty result
    val missing = cat.readWhereEquals("ns", "t", "id", "999999")
    assert(missing.count() === 0L)
    // a bloom-less commit (foreign files) is never pruned away
    val weird = cat.tablePath("ns", "t").resolve("data/foreign.parquet")
    Seq((999999L, "foreign")).toDF("id", "payload").coalesce(1)
      .write.mode("overwrite").parquet(weird.getParent.resolve("tmp-foreign").toString)
    val part = listOf(weird.getParent.resolve("tmp-foreign"))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.move(part, weird)
    cat.commitFiles("ns", "t", Seq("data/foreign.parquet"), "local")
    assert(cat.readWhereEquals("ns", "t", "id", "999999")
      .as[(Long, String)].collect().toSeq === Seq((999999L, "foreign")))
  }

  private def listOf(p: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toSeq finally s.close()
  }

  test("branches: isolation, fast-forward merge, conflict detection, idempotent branch commits") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    cat.createBranch("ns", "t", "dev")
    assert(cat.listBranches("ns", "t") === Seq("dev"))
    intercept[IllegalStateException](cat.createBranch("ns", "t", "dev"))
    intercept[IllegalArgumentException](cat.createBranch("ns", "t", "../evil"))

    // branch commit: main untouched, branch sees fork + new rows
    cat.commitAppendToBranch("ns", "t", "dev", Seq((3L, "c")).toDF("id", "v"),
      commitId = Some("dev-b1"))
    assert(cat.read("ns", "t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b")))
    assert(cat.readBranch("ns", "t", "dev").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))
    // replayed branch commit is rejected, not re-applied
    intercept[GraftCatalog.DuplicateCommitException](
      cat.commitAppendToBranch("ns", "t", "dev", Seq((9L, "x")).toDF("id", "v"),
        commitId = Some("dev-b1")))

    // fast-forward merge: main adopts the branch head as one commit
    val merged = cat.fastForwardMerge("ns", "t", "dev")
    assert(merged.seq === 1L)
    assert(cat.read("ns", "t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c")))

    // a branch forked before an unrelated main commit can no longer
    // fast-forward (main moved) — conflict, loudly
    cat.createBranch("ns", "t", "stale")
    cat.commitAppend("ns", "t", Seq((4L, "d")).toDF("id", "v"))
    cat.commitAppendToBranch("ns", "t", "stale", Seq((5L, "e")).toDF("id", "v"))
    intercept[GraftCatalog.MergeConflictException](
      cat.fastForwardMerge("ns", "t", "stale"))
    // main kept its own commit; the failed merge published nothing
    assert(cat.read("ns", "t").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))

    cat.dropBranch("ns", "t", "stale")
    assert(cat.listBranches("ns", "t") === Seq("dev"))
  }

  test("branch schema evolution rides through the merge; fork survives main expiry checks") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", Seq((1L, "a")).toDF("id", "v"))
    cat.createBranch("ns", "t", "feat")
    // additive column on the branch only
    cat.commitAppendToBranch("ns", "t", "feat",
      Seq((2L, "b", 7.5)).toDF("id", "v", "score"))
    assert(!cat.read("ns", "t").columns.contains("score"))
    val branchRows = cat.readBranch("ns", "t", "feat")
      .select("id", "v", "score").as[(Long, String, Option[Double])].collect().toSet
    assert(branchRows === Set((1L, "a", None), (2L, "b", Some(7.5))))
    cat.fastForwardMerge("ns", "t", "feat")
    // merged main carries the evolved schema; old file projects null
    val mainRows = cat.read("ns", "t")
      .select("id", "v", "score").as[(Long, String, Option[Double])].collect().toSet
    assert(mainRows === branchRows)
  }

  test("changesBetween: append fast path, replace row-diff, schema-evolution alignment") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))  // v0
    cat.commitAppend("ns", "t", Seq((3L, "c")).toDF("id", "v"))             // v1
    // append range: inserts only, straight off the manifest diff
    assert(cat.changesBetween("ns", "t", 0, 1)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
      === Set((3L, "insert")))
    // replace drops id 2 and adds id 4 with a NEW column — the row diff
    // must align schemas (old rows read score null) so unchanged rows
    // cancel and only the true delta surfaces
    cat.commitReplace("ns", "t",
      Seq((1L, "a", Option.empty[Double]), (3L, "c", Option.empty[Double]),
        (4L, "d", Option(1.5))).toDF("id", "v", "score"))                   // v2
    assert(cat.changesBetween("ns", "t", 1, 2)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
      === Set((2L, "delete"), (4L, "insert")))
    // the full range crosses the replace -> row-diff semantics end to end
    assert(cat.changesBetween("ns", "t", 0, 2)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
      === Set((2L, "delete"), (3L, "insert"), (4L, "insert")))
  }

  test("changesBetween MoR-ADDITIVE fast path (O(delta), never a base " +
       "rescan): every additive range — eq deletes, pos deletes, cdc " +
       "upserts, re-adds, widening appends — equals the full two-" +
       "snapshot diff exactly; overwrite ranges keep the diff path") {
    val cat = freshCatalog()
    cat.createTable("ns", "fd")
    // range-cluster + bloom the key so the erased-rows candidate scan
    // exercises the stats/bloom pruning arm (not just keep-all)
    cat.commitAppend("ns", "fd",
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), bloomCols = Seq("id"))   // v0
    cat.commitDelete("ns", "fd",
      Seq(10L, 20L, 30L).toDF("id"))                                // v1 eq
    cat.commitAppend("ns", "fd",
      Seq((10L, "v10b"), (200L, "v200")).toDF("id", "v"))           // v2 re-add
    cat.commitDeletePositions("ns", "fd",
      cat.positionsWhere("ns", "fd", col("id") === 7L))             // v3 pos
    cat.commitCdcApply("ns", "fd",
      Seq((5L, "v5-new"), (300L, "v300")).toDF("id", "v"),
      Seq(40L).toDF("id"), keyCols = Seq("id"))                     // v4 cdc
    cat.commitAppend("ns", "fd",
      Seq((400L, "v400", 1.5)).toDF("id", "v", "score"))            // v5 widen

    // reference: the full two-snapshot multiset diff (the slow path's
    // own algebra, recomputed independently here)
    def refDiff(fromSeq: Long, toSeq: Long): Set[(Long, String, String)] = {
      val a = cat.readVersion("ns", "fd", fromSeq)
      val b = cat.readVersion("ns", "fd", toSeq)
      val cols = (b.columns ++ a.columns.filterNot(b.columns.contains)).toSeq
      def al(df: org.apache.spark.sql.DataFrame) = df.select(cols.map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast("double").as(c)): _*).select("id", "v")
      (al(b).exceptAll(al(a)).withColumn("t", lit("insert"))
        .unionByName(al(a).exceptAll(al(b)).withColumn("t", lit("delete"))))
        .as[(Long, String, String)].collect().toSet
    }
    val snaps = cat.snapshots("ns", "fd")
    var additiveRanges = 0
    for (i <- snaps.indices; j <- snaps.indices if i < j) {
      val (f, t) = (snaps(i), snaps(j))
      if (t.manifests.startsWith(f.manifests)) additiveRanges += 1
      val got = cat.changesBetween("ns", "fd", f.seq, t.seq)
        .select(col("id"), col("v"), col("_change_type"))
        .as[(Long, String, String)].collect().toSet
      assert(got === refDiff(f.seq, t.seq),
        s"range v${f.seq}->v${t.seq} (additive=" +
          s"${t.manifests.startsWith(f.manifests)}) diverged")
    }
    assert(additiveRanges >= 10,
      s"fixture must exercise the additive path broadly, got $additiveRanges")

    // sanity: a specific additive range's content (v0 -> v4: deletes of
    // 10/20/30/7/40, re-add 10, inserts 200/5-update pair/300)
    val r = cat.changesBetween("ns", "fd", 0, 4)
      .select(col("id"), col("_change_type"))
      .as[(Long, String)].collect()
    assert(r.count(_ == (10L, "delete")) === 1)
    assert(r.count(_ == (10L, "insert")) === 1, "re-add must surface")
    assert(r.contains((40L, "delete")) && r.contains((300L, "insert")))
    assert(r.contains((5L, "delete")) && r.contains((5L, "insert")),
      "a cdc UPDATE is delete(old)+insert(new)")
  }

  test("changesBetween across MAINTENANCE commits (segmented O(delta)): " +
       "compact / rewrite_position_deletes / rewrite_manifests are row-" +
       "neutral boundaries, so every additive-modulo-maintenance range " +
       "equals the full two-snapshot diff; reserved commit-id prefixes " +
       "refuse on ordinary commits (spoofing would drop rows from the " +
       "feed)") {
    val cat = freshCatalog()
    cat.createTable("ns", "mx")
    cat.commitAppend("ns", "mx",
      (0 until 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), bloomCols = Seq("id"))     // v0
    cat.commitDelete("ns", "mx", Seq(10L, 20L, 30L).toDF("id"))       // v1
    cat.commitAppend("ns", "mx",
      Seq((10L, "v10b"), (200L, "v200")).toDF("id", "v"))             // v2
    cat.compact("ns", "mx", 1024L * 1024)                             // v3
    cat.commitCdcApply("ns", "mx",
      Seq((5L, "v5-new"), (300L, "v300")).toDF("id", "v"),
      Seq(40L).toDF("id"), keyCols = Seq("id"))                       // v4
    cat.commitDeletePositions("ns", "mx",
      cat.positionsWhere("ns", "mx", col("id") === 7L))               // v5
    cat.commitDeletePositions("ns", "mx",
      cat.positionsWhere("ns", "mx", col("id") === 8L))               // v6
    val (rwp, rwpN) = cat.rewritePositionDeletes("ns", "mx")          // v7
    assert(rwpN > 0 && rwp.seq === 7L, "fixture must really consolidate")
    cat.commitAppend("ns", "mx", Seq((500L, "v500")).toDF("id", "v")) // v8
    cat.commitAppend("ns", "mx", Seq((600L, "v600")).toDF("id", "v")) // v9
    val (rwm, rwmN) = cat.rewriteManifests("ns", "mx")                // v10
    assert(rwmN > 0 && rwm.seq === 10L, "fixture must really consolidate")
    cat.commitAppend("ns", "mx", Seq((700L, "v700")).toDF("id", "v")) // v11

    val snaps = cat.snapshots("ns", "mx")
    assert(snaps.find(_.seq == 3).get.commitId.startsWith("compact-"))
    assert(snaps.find(_.seq == 7).get.commitId.startsWith("rwposdel-"))
    assert(snaps.find(_.seq == 10).get.commitId.startsWith("rwmanifests-"))

    def refDiff(fromSeq: Long, toSeq: Long): Set[(Long, String, String)] = {
      val a = cat.readVersion("ns", "mx", fromSeq).select("id", "v")
      val b = cat.readVersion("ns", "mx", toSeq).select("id", "v")
      (b.exceptAll(a).withColumn("t", lit("insert"))
        .unionByName(a.exceptAll(b).withColumn("t", lit("delete"))))
        .as[(Long, String, String)].collect().toSet
    }
    // every range, including the ones that CROSS one, two or all three
    // maintenance kinds, must equal the independent two-snapshot diff
    var crossing = 0
    for (i <- snaps.indices; j <- snaps.indices if i < j) {
      val (f, t) = (snaps(i), snaps(j))
      val crossesMaint = snaps.exists(s => s.seq > f.seq && s.seq <= t.seq &&
        graft.catalog.GraftCatalog.isMaintenanceCommitId(s.commitId))
      if (crossesMaint && !t.manifests.startsWith(f.manifests)) crossing += 1
      val got = cat.changesBetween("ns", "mx", f.seq, t.seq)
        .select(col("id"), col("v"), col("_change_type"))
        .as[(Long, String, String)].collect().toSet
      assert(got === refDiff(f.seq, t.seq),
        s"range v${f.seq}->v${t.seq} (crossesMaintenance=$crossesMaint) diverged")
    }
    assert(crossing >= 20,
      s"fixture must exercise maintenance-crossing ranges broadly, got $crossing")

    // maintenance prefixes are engine-reserved: a spoofed commit id
    // refuses loudly instead of silently vanishing from the changefeed
    val e = intercept[Exception](cat.commitAppend("ns", "mx",
      Seq((1L, "x")).toDF("id", "v"), commitId = Some("compact-evil")))
    assert(e.getMessage.contains("reserved"), e.getMessage)
  }

  test("changesBetween across WAP FAST-FORWARD publishes (round-14): a " +
       "fast-forward merge adopts the branch head's manifest list, which " +
       "EXTENDS its parent's — so merge commits never break the additive " +
       "prefix and every publish-crossing range stays O(delta); " +
       "interleaved with MoR churn and compaction, all ranges equal the " +
       "independent two-snapshot diff") {
    val cat = freshCatalog()
    cat.createTable("ns", "wp")
    def wap(rows: Seq[(Long, String)]): Unit =
      Wap.writeAuditPublish(cat, "ns", "wp", rows.toDF("id", "v"),
        rowRules = Seq(("id_nonneg", col("id") >= 0L))) match {
        case Wap.Published(_) => ()
        case r => fail(s"publish rejected: $r")
      }
    cat.commitAppend("ns", "wp",
      (0 until 80).map(i => (i.toLong, s"v$i")).toDF("id", "v")
        .repartitionByRange(4, col("id")), bloomCols = Seq("id"))     // v0
    wap(Seq((100L, "w100"), (101L, "w101")))                          // v1
    cat.commitDelete("ns", "wp", Seq(10L, 100L).toDF("id"))           // v2
    wap(Seq((100L, "w100b"), (200L, "w200")))                         // v3 (re-add)
    cat.commitCdcApply("ns", "wp",
      Seq((5L, "v5-new"), (300L, "v300")).toDF("id", "v"),
      Seq(40L).toDF("id"), keyCols = Seq("id"))                       // v4
    cat.compact("ns", "wp", 1024L * 1024)                             // v5
    wap(Seq((400L, "w400")))                                          // v6
    cat.commitDeletePositions("ns", "wp",
      cat.positionsWhere("ns", "wp", col("id") === 7L))               // v7
    wap(Seq((500L, "w500")))                                          // v8
    cat.commitAppend("ns", "wp", Seq((600L, "v600")).toDF("id", "v")) // v9

    val snaps = cat.snapshots("ns", "wp")
    assert(snaps.count(_.commitId.startsWith("merge-")) === 4,
      "fixture must carry four fast-forward publishes")
    assert(snaps.find(_.seq == 5).exists(_.commitId.startsWith("compact-")))

    def refDiff(fromSeq: Long, toSeq: Long): Set[(Long, String, String)] = {
      val a = cat.readVersion("ns", "wp", fromSeq).select("id", "v")
      val b = cat.readVersion("ns", "wp", toSeq).select("id", "v")
      (b.exceptAll(a).withColumn("t", lit("insert"))
        .unionByName(a.exceptAll(b).withColumn("t", lit("delete"))))
        .as[(Long, String, String)].collect().toSet
    }
    var mergeCrossing = 0
    for (i <- snaps.indices; j <- snaps.indices if i < j) {
      val (f, t) = (snaps(i), snaps(j))
      val crossesMerge = snaps.exists(s => s.seq > f.seq && s.seq <= t.seq &&
        s.commitId.startsWith("merge-"))
      val crossesMaint = snaps.exists(s => s.seq > f.seq && s.seq <= t.seq &&
        graft.catalog.GraftCatalog.isMaintenanceCommitId(s.commitId))
      if (crossesMerge) mergeCrossing += 1
      // THE O(delta) pin: merges alone never break the additive prefix —
      // only a maintenance rewrite may, and those decompose (segmented)
      if (!crossesMaint)
        assert(t.manifests.startsWith(f.manifests),
          s"v${f.seq}->v${t.seq} crosses no maintenance commit yet broke " +
            "the manifest-prefix invariant — a fast-forward publish " +
            "would force the full two-snapshot diff")
      val got = cat.changesBetween("ns", "wp", f.seq, t.seq)
        .select(col("id"), col("v"), col("_change_type"))
        .as[(Long, String, String)].collect().toSet
      assert(got === refDiff(f.seq, t.seq),
        s"range v${f.seq}->v${t.seq} (crossesMerge=$crossesMerge) diverged")
    }
    assert(mergeCrossing >= 20,
      s"fixture must exercise publish-crossing ranges broadly, got $mergeCrossing")

    // re-add semantics across a publish: 100 deleted at v2, re-published
    // at v3 — the full range surfaces both sides
    val r = cat.changesBetween("ns", "wp", 0, 9)
      .select(col("id"), col("v"), col("_change_type"))
      .as[(Long, String, String)].collect().toSet
    assert(r.contains((100L, "w100b", "insert")) &&
      !r.exists(x => x._1 == 100L && x._2 == "w100" && x._3 == "insert"),
      "an insert-then-delete-then-republish key must surface only its " +
        "final spelling")
  }

  test("TIMESTAMP AS OF resolves the newest version at-or-before the instant") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    val v0 = cat.commitAppend("ns", "t", Seq((1L, "a")).toDF("id", "v"))
    Thread.sleep(5) // distinct commit timestamps (millisecond clock)
    val v1 = cat.commitAppend("ns", "t", Seq((2L, "b")).toDF("id", "v"))
    assert(cat.versionAsOfTimestamp("ns", "t", v0.timestampMs).map(_.seq) === Some(0L))
    // between the two commits -> still v0; at/after v1 -> v1
    assert(cat.versionAsOfTimestamp("ns", "t", v1.timestampMs - 1).map(_.seq) === Some(0L))
    assert(cat.versionAsOfTimestamp("ns", "t", v1.timestampMs).map(_.seq) === Some(1L))
    assert(cat.readAsOfTimestamp("ns", "t", v0.timestampMs).count() === 1L)
    assert(cat.readAsOfTimestamp("ns", "t", Long.MaxValue).count() === 2L)
    // before the table had any version: loud, not empty
    assert(cat.versionAsOfTimestamp("ns", "t", 0L).isEmpty)
    intercept[IllegalArgumentException](cat.readAsOfTimestamp("ns", "t", 0L))
  }

  test("tags pin versions immutably and read through the named ref") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", Seq((1L, "a")).toDF("id", "v"))
    cat.createTag("ns", "t", "run-1")
    cat.commitAppend("ns", "t", Seq((2L, "b")).toDF("id", "v"))
    assert(cat.listTags("ns", "t") === Seq("run-1"))
    // the tag still reads v0 after main moved — that is the point
    assert(cat.readTag("ns", "t", "run-1").as[(Long, String)].collect().toSet
      === Set((1L, "a")))
    intercept[IllegalStateException](cat.createTag("ns", "t", "run-1"))
    intercept[IllegalArgumentException](cat.createTag("ns", "t", "bad/../name"))
    cat.createTag("ns", "t", "run-2")
    assert(cat.readTag("ns", "t", "run-2").count() === 2L)
    cat.dropTag("ns", "t", "run-1")
    assert(cat.listTags("ns", "t") === Seq("run-2"))
  }

  test("merge-on-read deletes: no data rewrite, versioned reads, CDC, compaction materializes") {
    val cat = freshCatalog()
    cat.createTable("ns", "mor")
    cat.commitAppend("ns", "mor",
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "v"))      // v0
    val v0Files = cat.dataFiles("ns", "mor", cat.snapshots("ns", "mor").last).toSet
    cat.commitDelete("ns", "mor", Seq(2L, 9L).toDF("id"))                    // v1 (9 absent: no-op)
    val v1 = cat.snapshots("ns", "mor").last
    // delete commit rewrote NOTHING: same data files, one delete file added
    assert(cat.dataFiles("ns", "mor", v1).toSet === v0Files)
    assert(cat.deleteFileEntries("ns", "mor", v1).nonEmpty)
    assert(cat.read("ns", "mor").select("id").as[Long].collect().toSet === Set(1L, 3L, 4L))
    // time travel: v0 still sees the deleted row
    assert(cat.readVersion("ns", "mor", 0).count() === 4)
    // CDC across the delete commit reports exactly the removed row
    assert(cat.changesBetween("ns", "mor", 0, 1)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
      === Set((2L, "delete")))
    // second delete with the SAME equality column stacks
    cat.commitDelete("ns", "mor", Seq(4L).toDF("id"))                        // v2
    assert(cat.read("ns", "mor").select("id").as[Long].collect().toSet === Set(1L, 3L))
    // a different equality-column set is rejected before any commit
    val e = intercept[IllegalArgumentException] {
      cat.commitDelete("ns", "mor", Seq("x").toDF("v"))
    }
    assert(e.getMessage.contains("equality-delete columns"))
    // a column outside the schema is rejected too
    val e2 = intercept[IllegalArgumentException] {
      cat.commitDelete("ns", "mor", Seq(1L).toDF("nope"))
    }
    assert(e2.getMessage.contains("not in"))
    // compaction folds the deletes in: same rows, zero delete files left
    cat.compact("ns", "mor", targetFileBytes = 256L * 1024 * 1024)           // v3
    val v3 = cat.snapshots("ns", "mor").last
    assert(cat.deleteFileEntries("ns", "mor", v3).isEmpty)
    assert(cat.read("ns", "mor").select("id").as[Long].collect().toSet === Set(1L, 3L))
    // the MOR versions still time-travel correctly after compaction
    assert(cat.readVersion("ns", "mor", 1).select("id").as[Long].collect().toSet
      === Set(1L, 3L, 4L))
  }

  test("POSITION deletes: physical-row erasure without rewrite, duplicate " +
       "redaction, later appends untouched, compaction materializes") {
    val cat = freshCatalog()
    cat.createTable("ns", "pmor")
    // duplicate key 2 on purpose: an equality delete could only kill BOTH
    cat.commitAppend("ns", "pmor",
      Seq((1L, "a"), (2L, "b"), (2L, "b-dup"), (3L, "c")).toDF("id", "v"))  // v0
    val v0Files = cat.dataFiles("ns", "pmor", cat.snapshots("ns", "pmor").last).toSet

    // positionsWhere -> commitDeletePositions: erase exactly the one
    // bad copy among the key-duplicates
    val pos = cat.positionsWhere("ns", "pmor", org.apache.spark.sql.functions.col("v") === "b-dup")
    assert(pos.count() === 1L)
    cat.commitDeletePositions("ns", "pmor", pos)                             // v1
    val v1 = cat.snapshots("ns", "pmor").last
    assert(cat.dataFiles("ns", "pmor", v1).toSet === v0Files, "no data rewrite")
    assert(cat.deleteFileEntries("ns", "pmor", v1).nonEmpty)
    assert(cat.equalityDeleteFileEntries("ns", "pmor", v1).isEmpty,
      "a position delete is not an equality delete")
    assert(cat.read("ns", "pmor").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // time travel: v0 still sees the redacted row
    assert(cat.readVersion("ns", "pmor", 0).count() === 4)

    // data appended AFTER the position delete is outside its reach
    cat.commitAppend("ns", "pmor", Seq((4L, "d")).toDF("id", "v"))           // v2
    assert(cat.read("ns", "pmor").count() === 4)

    // positionsWhere never re-targets an erased row; a second positional
    // round stacks with the first
    val pos2 = cat.positionsWhere("ns", "pmor", org.apache.spark.sql.functions.col("id") === 2L)
    assert(pos2.count() === 1L, "the erased duplicate must not be re-offered")
    cat.commitDeletePositions("ns", "pmor", pos2)                            // v3
    assert(cat.read("ns", "pmor").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c"), (4L, "d")))

    // equality + position deletes compose on one table
    cat.commitDelete("ns", "pmor", Seq(3L).toDF("id"))                       // v4
    assert(cat.read("ns", "pmor").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (4L, "d")))

    // metadata count refuses on a delete-bearing head (either kind)
    assert(cat.countFastOpt("ns", "pmor").isEmpty)

    // compaction materializes BOTH kinds and the history stays exact
    cat.compact("ns", "pmor", targetFileBytes = 256L * 1024 * 1024)          // v5
    val v5 = cat.snapshots("ns", "pmor").last
    assert(cat.deleteFileEntries("ns", "pmor", v5).isEmpty)
    assert(cat.read("ns", "pmor").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (4L, "d")))
    assert(cat.readVersion("ns", "pmor", 1).as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))

    // refusals: wrong shape, stale file reference
    val e1 = intercept[IllegalArgumentException] {
      cat.commitDeletePositions("ns", "pmor", Seq((1L, 2L)).toDF("a", "b"))
    }
    assert(e1.getMessage.contains("file_path"))
    val e2 = intercept[IllegalArgumentException] {
      cat.commitDeletePositions("ns", "pmor",
        Seq(("data/not-a-live-file.parquet", 0L)).toDF("file_path", "pos"))
    }
    assert(e2.getMessage.contains("not live"))
  }

  test("rewriteManifests consolidates the export-safe tail, preserves " +
       "pre-delete manifests verbatim, carries stats and blooms, no-ops twice") {
    val cat = freshCatalog()
    cat.createTable("ns", "rm")
    // 4 appends -> 4 data manifests; a MoR delete; 2 more appends
    (1 to 4).foreach(i => cat.commitAppend("ns", "rm",
      Seq((i.toLong, s"v$i")).toDF("id", "v"), bloomCols = Seq("id")))
    cat.commitDelete("ns", "rm", Seq(2L).toDF("id"))
    (5 to 6).foreach(i => cat.commitAppend("ns", "rm",
      Seq((i.toLong, s"v$i")).toDF("id", "v")))
    val before = cat.latest("ns", "rm").get
    assert(before.manifests.size === 7)
    val expected = cat.read("ns", "rm").as[(Long, String)].collect().toSet
    assert(expected.map(_._1) === Set(1L, 3L, 4L, 5L, 6L))

    val (after, eliminated) = cat.rewriteManifests("ns", "rm")
    // ONLY the trailing run behind the last delete consolidates (2 -> 1);
    // the pre-delete run must stay verbatim — a consolidated manifest is
    // NEW and would take the rewrite snapshot's export sequence, which
    // post-dates the delete's (exported deleted rows would resurrect)
    assert(eliminated === 1)
    assert(after.manifests.size === 6)
    assert(after.manifests.take(5) === before.manifests.take(5),
      "everything up to the last delete manifest is preserved verbatim")
    assert(cat.read("ns", "rm").as[(Long, String)].collect().toSet === expected)
    assert(cat.deleteFileEntries("ns", "rm", after).nonEmpty)
    assert(cat.dataFiles("ns", "rm", after).toSet ===
      cat.dataFiles("ns", "rm", before).toSet)
    // old versions untouched; idempotent
    assert(cat.readVersion("ns", "rm", 3).count() === 4)
    val (again, n2) = cat.rewriteManifests("ns", "rm")
    assert(n2 === 0)
    assert(again.seq === after.seq)
    // the rewritten table still EXPORTS and round-trips (the pairwise
    // position/sequence guard passes on the safe consolidation)
    val dest = Files.createTempDirectory("rm-export").toString
    graft.catalog.IcebergExport.exportTable(cat, "ns", "rm", dest): Unit
    assert(graft.catalog.IcebergExport.readExported(spark, dest)
      .as[(Long, String)].collect().toSet === expected)

    // a CLEAN table (no deletes) consolidates fully — and BLOOMS carry:
    // the point lookup still prunes to one file after consolidation
    cat.createTable("ns", "rmb")
    (1 to 4).foreach(i => cat.commitAppend("ns", "rmb",
      Seq((i.toLong * 10, s"b$i")).toDF("id", "v"), bloomCols = Seq("id")))
    val (_, nb) = cat.rewriteManifests("ns", "rmb")
    assert(nb === 3, "4 data manifests fold into 1 on a clean table")
    assert(cat.countFastOpt("ns", "rmb") === Some(4L), "row stats carried")
    val point = cat.readWhereEquals("ns", "rmb", "id", "20")
    assert(point.inputFiles.length === 1,
      s"blooms must survive consolidation: read ${point.inputFiles.length} files")
    assert(point.as[(Long, String)].collect().toSeq === Seq((20L, "b2")))
    // single manifest is a no-op
    cat.createTable("ns", "rm2")
    cat.commitAppend("ns", "rm2", Seq((1L, "x")).toDF("id", "v"))
    val (same, zero) = cat.rewriteManifests("ns", "rm2")
    assert(zero === 0 && same.seq === 0L, "single manifest is a no-op")
  }

  test("position deletes survive a warehouse path needing URI encoding " +
       "(space): _metadata matching is encoding-aware") {
    // _metadata.file_path is URI-encoded (space -> %20); a raw-path token
    // would never match and the anti-join would silently drop nothing
    val wh = Files.createTempDirectory("graft wh enc").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ns", "enc")
    // with per-file blooms: the stats AND bloom jobs join scanned
    // input_file_name URIs (percent-encoded) back to raw staged paths
    cat.commitAppend("ns", "enc", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"),
      bloomCols = Seq("id"))
    assert(cat.countFastOpt("ns", "enc") === Some(3L),
      "stats must record under the encoded path")
    val pos = cat.positionsWhere("ns", "enc",
      org.apache.spark.sql.functions.col("id") === 2L)
    assert(pos.count() === 1L, "positionsWhere must resolve under the encoded path")
    cat.commitDeletePositions("ns", "enc", pos)
    assert(cat.read("ns", "enc").select("id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("MOR sequence rule: re-append resurrects a deleted key; upsert is one atomic commit") {
    val cat = freshCatalog()
    cat.createTable("ns", "seq")
    cat.commitAppend("ns", "seq", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))  // v0
    cat.commitDelete("ns", "seq", Seq(2L).toDF("id"))                          // v1
    assert(cat.read("ns", "seq").select("id").as[Long].collect().toSet === Set(1L))
    // data committed AFTER the delete is outside its reach (Iceberg's
    // sequence-number rule): key 2 comes back with its new value
    cat.commitAppend("ns", "seq", Seq((2L, "b2")).toDF("id", "v"))             // v2
    assert(cat.read("ns", "seq").as[(Long, String)].collect().toSet
      === Set((1L, "a"), (2L, "b2")))
    // atomic upsert: UPDATE id 1, INSERT id 3 — ONE new version
    val before = cat.snapshots("ns", "seq").last.seq
    cat.commitUpsert("ns", "seq", Seq((1L, "a9"), (3L, "c")).toDF("id", "v"), Seq("id"))
    assert(cat.snapshots("ns", "seq").last.seq === before + 1)
    assert(cat.read("ns", "seq").as[(Long, String)].collect().toSet
      === Set((1L, "a9"), (2L, "b2"), (3L, "c")))
    // CDC across the upsert reports the replaced row + both inserts
    assert(cat.changesBetween("ns", "seq", before, before + 1)
      .select("id", "v", "_change_type").as[(Long, String, String)].collect().toSet
      === Set((1L, "a", "delete"), (1L, "a9", "insert"), (3L, "c", "insert")))
    // a second upsert of the SAME key wins again (stacked delete epochs)
    cat.commitUpsert("ns", "seq", Seq((1L, "a10")).toDF("id", "v"), Seq("id"))
    assert(cat.read("ns", "seq").as[(Long, String)].collect().toSet
      === Set((1L, "a10"), (2L, "b2"), (3L, "c")))
    // upsert into an empty table degrades to a plain append
    cat.createTable("ns", "seq2")
    cat.commitUpsert("ns", "seq2", Seq((9L, "z")).toDF("id", "v"), Seq("id"))
    assert(cat.read("ns", "seq2").as[(Long, String)].collect().toSet === Set((9L, "z")))
  }

  test("rollback is metadata-only: no file I/O, history intact, CDC reports the undo") {
    val cat = freshCatalog()
    cat.createTable("ns", "rb")
    cat.commitAppend("ns", "rb", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))  // v0
    cat.commitAppend("ns", "rb", Seq((3L, "bad")).toDF("id", "v"))           // v1
    val v0Files = cat.dataFiles("ns", "rb", cat.snapshots("ns", "rb").head).toSet
    cat.rollbackTo("ns", "rb", 0)                                            // v2
    val v2 = cat.snapshots("ns", "rb").last
    assert(v2.seq === 2)
    assert(cat.dataFiles("ns", "rb", v2).toSet === v0Files, "rollback must reuse v0's files")
    assert(cat.read("ns", "rb").select("id").as[Long].collect().toSet === Set(1L, 2L))
    // the bad commit is still in history and still readable
    assert(cat.readVersion("ns", "rb", 1).count() === 3)
    // CDC across the rollback reports the undone row as a delete
    assert(cat.changesBetween("ns", "rb", 1, 2)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
      === Set((3L, "delete")))
    // appending after a rollback continues normally from the restored state
    cat.commitAppend("ns", "rb", Seq((4L, "d")).toDF("id", "v"))
    assert(cat.read("ns", "rb").select("id").as[Long].collect().toSet === Set(1L, 2L, 4L))
  }

  test("orphan-manifest sweep removes only unreferenced manifests past the grace window") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", Seq((1L, "a")).toDF("id", "v"))
    // plant a crash artifact: a manifest no version references
    val orphan = cat.tablePath("ns", "t").resolve("_meta/manifests/m-orphan.jsonl")
    java.nio.file.Files.write(orphan, "{\"path\":\"data/x/y.parquet\",\"size_bytes\":1}\n".getBytes)
    // inside the grace window nothing is removed (could be an in-flight commit)
    assert(cat.sweepOrphanManifests("ns", "t", graceMs = 3600000L) === Seq.empty)
    // past the grace window only the orphan goes; the live version is untouched
    val removed = cat.sweepOrphanManifests("ns", "t", graceMs = -1L)
    assert(removed === Seq("_meta/manifests/m-orphan.jsonl"))
    assert(cat.read("ns", "t").count() === 1)
    assert(cat.sweepOrphanManifests("ns", "t", graceMs = -1L) === Seq.empty)
  }

  test("staging never touches the session's parquet timestamp conf: " +
       "concurrent commits on two sessions keep their own values") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val key = "spark.sql.parquet.outputTimestampType"
    val s1 = spark.newSession(); s1.conf.set(key, "INT96")
    val s2 = spark.newSession(); s2.conf.set(key, "TIMESTAMP_MILLIS")
    val cat1 = new GraftCatalog(s1, Files.createTempDirectory("micros-s1").toString)
    val cat2 = new GraftCatalog(s2, Files.createTempDirectory("micros-s2").toString)
    cat1.createTable("ns", "t"); cat2.createTable("ns", "t")
    def df(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      (0 until 50).map(i =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i % 50}%02d")))
        .toDF("id", "ts")
    }
    // interleave: both sessions stage at the same time
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    val f1 = pool.submit(new Runnable { def run(): Unit = {
      start.await(); (0 until 3).foreach(_ => cat1.commitAppend("ns", "t", df(s1))) } })
    val f2 = pool.submit(new Runnable { def run(): Unit = {
      start.await(); (0 until 3).foreach(_ => cat2.commitAppend("ns", "t", df(s2))) } })
    start.countDown()
    f1.get(120, TimeUnit.SECONDS); f2.get(120, TimeUnit.SECONDS)
    pool.shutdown()
    assert(s1.conf.get(key) === "INT96", "session 1 must keep ITS OWN value")
    assert(s2.conf.get(key) === "TIMESTAMP_MILLIS", "session 2 must keep ITS OWN value")
    // and the staged files are still spec-physical INT64 micros
    assert(cat1.read("ns", "t").count() === 150L)
    val tsTypes = cat1.dataFiles("ns", "t", cat1.latest("ns", "t").get).map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(cat1.tablePath("ns", "t").resolve(f).toString),
        spark.sparkContext.hadoopConfiguration)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getFileMetaData.getSchema.getFields.asScala.find(_.getName == "ts")
        .get.asPrimitiveType.getPrimitiveTypeName.toString
      finally r.close()
    }.distinct
    assert(tsTypes === Seq("INT64"))
  }

  test("writer-recorded stats are bit-identical to the re-read job's: " +
       "bounds of every prunable type, bucket-derived stats, Bloom bitsets") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cat = freshCatalog()
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("dec", DecimalType(12, 3)), StructField("d", DoubleType),
      StructField("s", StringType), StructField("dt", DateType),
      StructField("ts", TimestampType), StructField("b", BooleanType),
      StructField("n", LongType)))
    val cols = schema.fieldNames.toSeq
    def frame(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    def day(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val batches = Seq(
      // signed zeros in both orders, NaN, empty and non-ASCII strings
      Seq(Row(1, 10L, BigDecimal("1.500").bigDecimal, 0.0, "", day("2024-02-29"),
              ts("2024-02-29 12:34:56.123456"), true, null),
          Row(-7, -3L, BigDecimal("-2.250").bigDecimal, -0.0, "日本語", day("1969-12-31"),
              ts("1969-12-31 23:59:59.999999"), false, null),
          Row(42, Long.MaxValue, BigDecimal("999999999.999").bigDecimal, Double.NaN,
              "é", day("2000-01-01"), ts("2000-01-01 00:00:00"), true, null)),
      Seq(Row(3, 0L, BigDecimal("0.000").bigDecimal, -0.0, "zz\uD83D\uDE00", day("2024-01-01"),
              ts("2024-01-01 00:00:00.000001"), false, null),
          Row(null, null, null, 0.0, null, null, null, null, null),
          Row(9, 1L, BigDecimal("0.001").bigDecimal, -1.5, "a", day("2024-01-02"),
              ts("2024-01-02 00:00:00"), false, null)),
      // a zero-row input lands one zero-row file
      Seq.empty[Row])
    val props = Map(
      GraftCatalog.PartitionSpecProp -> GraftCatalog.partitionSpecJson(
        Seq(GraftCatalog.PartitionField("bucket", "i", 4))),
      GraftCatalog.BloomColumnsProp -> cols.mkString(","))
    // `w` stages through the writer; `r` registers byte-identical copies
    // of w's files as landed files, which the re-read job stats
    Seq("w", "r").foreach { t =>
      cat.createTable("ns", t)
      cat.commitAppend("ns", t, frame(Nil), propsSet = props)
    }
    val v0 = cat.dataFiles("ns", "w", cat.latest("ns", "w").get).toSet
    cat.commitAppend("ns", "w", frame(batches(0)), bloomCols = cols)
    cat.commitAppend("ns", "w", frame(batches(1)).repartition(2), bloomCols = cols)
    cat.commitAppend("ns", "w", frame(batches(0) ++ batches(1)), bloomCols = cols,
      alignSpec = true)
    cat.commitAppend("ns", "w", frame(batches(2)), bloomCols = cols)
    val wHead = cat.latest("ns", "w").get
    val staged = cat.dataFiles("ns", "w", wHead).filterNot(v0)
    staged.foreach { f =>
      val dst = cat.tablePath("ns", "r").resolve(f)
      Files.createDirectories(dst.getParent)
      Files.copy(cat.tablePath("ns", "w").resolve(f), dst)
    }
    cat.commitLandedFiles("ns", "r", staged, "local")
    def entries(t: String) = cat.prunedDataEntries("ns", t, cat.latest("ns", t).get,
      Array.empty).map(e => e.path -> e).toMap
    val (w, r) = (entries("w"), entries("r"))
    assert(staged.size >= 5, s"expected several staged files, got $staged")
    staged.foreach { f =>
      assert(w(f).stats === r(f).stats, s"bounds differ for $f")
      assert(w(f).blooms === r(f).blooms, s"bloom bitsets differ for $f")
    }
    // the comparison is not vacuous: every prunable column bounded, the
    // derived bucket stat recorded, every column bloom-indexed, the
    // all-null column unbounded and the zero-row file counted
    val full = staged.map(w).filter(_.stats.get("__rows").exists(_._1 != "0"))
    assert(full.exists(e => Seq("i", "l", "dec", "d", "s", "dt", "ts", "b")
      .forall(e.stats.contains)))
    assert(full.filter(_.stats.contains("i"))
      .forall(_.stats.keys.exists(_.startsWith("__pt_bucket"))))
    assert(full.forall(_.blooms.size === cols.size))
    assert(full.forall(e => !e.stats.contains("n")))
    assert(staged.map(w).exists(_.stats.get("__rows").contains(("0", "0"))))
    assert(cat.read("ns", "w").count() === cat.read("ns", "r").count())
  }

  test("commitLandedMoR's equality-delete column check reads one footer: no job") {
    val cat = freshCatalog()
    cat.createTable("ns", "m")
    cat.commitAppend("ns", "m", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val root = cat.tablePath("ns", "m")
    def landed(dir: String, id: Long): String = {
      Seq(id).toDF("id").coalesce(1).write.parquet(root.resolve(dir).toString)
      val s = Files.list(root.resolve(dir))
      try s"$dir/" + s.iterator().asScala.map(_.getFileName.toString)
        .find(n => n.startsWith("part-") && n.endsWith(".parquet")).get
      finally s.close()
    }
    cat.commitLandedMoR("ns", "m", Nil, Seq(landed("landed-1", 1L)), None, "ext")
    // the second equality-delete commit checks its columns against the
    // existing delete set
    val second = landed("landed-2", 2L)
    val (_, jobs) = withJobs(cat.commitLandedMoR("ns", "m", Nil, Seq(second), None, "ext"))
    assert(jobs.isEmpty, s"the equality-delete column check ran jobs: $jobs")
    assert(cat.read("ns", "m").as[(Long, String)].collect().toSeq === Seq((3L, "c")))
  }

  test("an unpartitioned bloom-less append is ONE Spark job and a local " +
       "batch lands as ONE file") {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", Seq((0L, "warm")).toDF("id", "v"))
    // a driver-local batch is staged on the driver: no job at all
    val (snap, localJobs) = withJobs(cat.commitAppend("ns", "t",
      (1 to 250).map(i => (i.toLong, s"v$i")).toDF("id", "v")))
    assert(localJobs.isEmpty, s"a local batch ran jobs: $localJobs")
    assert(cat.addedFiles("ns", "t", snap).size === 1,
      "a driver-local batch must land as one file")
    // a non-local input is written by the tasks of exactly one job
    val (_, rangeJobs) = withJobs(cat.commitAppend("ns", "t",
      spark.range(1000, 1250).select(col("id"), lit("r").as("v"))))
    assert(rangeJobs.size === 1, s"a non-local append ran ${rangeJobs.size} jobs: $rangeJobs")
    assert(cat.read("ns", "t").count() === 501L)
  }

  test("driver-staged files equal job-staged ones: counts, bounds, derived " +
       "stats, Bloom bitsets and rows; spec'd, empty and oversized local batches") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("dec", DecimalType(12, 3)), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("s", StringType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("b", BooleanType), StructField("n", LongType)))
    val cols = schema.fieldNames.toSeq
    def day(s: String) = java.sql.Date.valueOf(s)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      Row(1, 10L, BigDecimal("1.500").bigDecimal, 0.0, 0.0f, "", day("2024-02-29"),
          ts("2024-02-29 12:34:56.123456"), true, null),
      Row(-7, -3L, BigDecimal("-2.250").bigDecimal, -0.0, -0.0f, "日本語", day("1969-12-31"),
          ts("1969-12-31 23:59:59.999999"), false, null),
      Row(42, Long.MaxValue, BigDecimal("999999999.999").bigDecimal, Double.NaN, Float.NaN,
          "é", day("2000-01-01"), ts("2000-01-01 00:00:00"), true, null),
      Row(null, null, null, -0.0, 0.0f, null, null, null, null, null),
      Row(9, 1L, BigDecimal("0.001").bigDecimal, -1.5, 2.5f, "zz\uD83D\uDE00",
          day("2024-01-02"), ts("2024-01-02 00:00:00"), false, null))
    def local(rs: Seq[Row]) = spark.createDataFrame(rs.asJava, schema)
    def distributed(rs: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), schema)
    val specProps = Map(
      GraftCatalog.PartitionSpecProp -> GraftCatalog.partitionSpecJson(Seq(
        GraftCatalog.PartitionField("bucket", "i", 4),
        GraftCatalog.PartitionField("day", "ts"))))
    val cat = freshCatalog()
    def entriesOf(t: String, snap: cat.Snapshot) = {
      val added = cat.addedFiles("ns", t, snap).toSet
      cat.prunedDataEntries("ns", t, snap, Array.empty).filter(e => added(e.path))
        .toSeq.sortBy(_.path)
    }
    // one table per staging form; each case commits the same rows to both
    Seq("loc", "job").foreach { t =>
      cat.createTable("ns", t)
      cat.commitAppend("ns", t, local(Nil), propsSet = specProps)
    }
    Seq(rows, Nil).foreach { rs =>
      val (ls, lJobs) = withJobs(cat.commitAppend("ns", "loc", local(rs), bloomCols = cols))
      assert(lJobs.isEmpty, s"the local batch ran jobs: $lJobs")
      val (js, jJobs) = withJobs(
        cat.commitAppend("ns", "job", distributed(rs), bloomCols = cols))
      assert(jJobs.size === 1, s"the distributed batch ran ${jJobs.size} jobs")
      val (l, j) = (entriesOf("loc", ls), entriesOf("job", js))
      assert(l.size === 1 && j.size === 1, s"one file each: $l / $j")
      assert(l.head.stats === j.head.stats, "row counts, bounds, derived stats")
      assert(l.head.blooms === j.head.blooms, "Bloom bitsets")
      if (rs.nonEmpty) {
        // not vacuous: every prunable column bounded, the bucket stat
        // recorded, every column (the timestamp too) bloom-indexed, the
        // all-null column unbounded
        assert(cols.filterNot(_ == "n").forall(l.head.stats.contains))
        assert(l.head.stats.keys.exists(_.startsWith("__pt_bucket")))
        assert(l.head.blooms.size === cols.size)
        assert(!l.head.stats.contains("n"))
      } else assert(l.head.stats.get("__rows").contains(("0", "0")))
    }
    def sorted(t: String) = cat.read("ns", t).collect().map(_.toString).sorted.toSeq
    assert(sorted("loc") === sorted("job"))
    assert(sorted("loc").size === 5)
    // aligned staging of a local batch keeps the job path (one file per
    // partition tuple) on both forms
    val (al, alJobs) = withJobs(
      cat.commitAppend("ns", "loc", local(rows), bloomCols = cols, alignSpec = true))
    val aj = cat.commitAppend("ns", "job", distributed(rows), bloomCols = cols, alignSpec = true)
    assert(alJobs.size === 1)
    assert(entriesOf("loc", al).map(e => e.stats -> e.blooms) ===
      entriesOf("job", aj).map(e => e.stats -> e.blooms))
    assert(sorted("loc") === sorted("job"))
    // a local batch past write.target-file-size-bytes lands n files
    // through ONE job
    cat.createTable("ns", "big")
    cat.commitAppend("ns", "big", local(Nil),
      propsSet = Map(GraftCatalog.TargetFileSizeProp -> "1024"))
    val many = (0 until 250).map(k => Row(k, k.toLong, null, k.toDouble, k.toFloat,
      s"row-$k", null, null, k % 2 == 0, null))
    val (bs, bJobs) = withJobs(cat.commitAppend("ns", "big", local(many)))
    assert(bJobs.size === 1, s"an oversized local batch ran ${bJobs.size} jobs")
    assert(cat.addedFiles("ns", "big", bs).size > 1, "an oversized local batch is split")
    assert(cat.read("ns", "big").count() === 250L)
  }

  test("string bounds are cut to 16 code points, the max rounded up; pruning over cut " +
       "bounds keeps every matching row, and both stats producers agree") {
    val p16 = "abcdefghijklmnop"
    val values = Seq(
      p16, p16 + "XXX", p16 + "YYY", "abcdefghijklmno\u00e9tail",
      "\u00e9" * 17 + "1", "\u00e9" * 16, "\uD83D\uDE00" * 20, "a" + "\uD83D\uDE00" * 15 + "b",
      "\uD7FF" * 17, "z" * 15 + "\uDBFF\uDFFF" + "q", "\uDBFF\uDFFF" * 17, "x" * 600000, "")
    val cat = freshCatalog()
    cat.createTable("ns", "cut")
    // one value per file: each file's bounds are that value's cut
    values.foreach(v => cat.commitAppend("ns", "cut", Seq((v.length.toLong, v)).toDF("n", "s")))
    val head = cat.latest("ns", "cut").get
    val entries = cat.prunedDataEntries("ns", "cut", head, Array.empty).toSeq
    def cps(x: String) = x.codePointCount(0, x.length)
    entries.flatMap(_.stats.get("s")).foreach { case (mn, mx) =>
      assert(cps(mn) <= 16 && cps(mx) <= 16, s"an uncut bound: ${mn.take(20)} / ${mx.take(20)}")
      // a bound that is not a value of its file is a cut of exactly 16
      Seq(mn, mx).foreach(b => assert(values.contains(b) || cps(b) == 16, s"a short cut: $b"))
    }
    val manifestBytes = head.manifests.map(m => Files.size(cat.tablePath("ns", "cut").resolve(m))).sum
    assert(manifestBytes < 64 * 1024, s"manifests hold $manifestBytes bytes")
    // a cut max ending in U+10FFFF (17 of them; 15 'z' + U+10FFFF + 'q')
    // has no round-up of 16 code points, so no bound is recorded
    assert(entries.count(!_.stats.contains("s")) === 2)
    assert(entries.flatMap(_.stats.get("s")).contains((p16, "abcdefghijklmnoq")))
    assert(entries.flatMap(_.stats.get("s")).contains(("\uD7FF" * 16, "\uD7FF" * 15 + "\uE000")))
    // a cut bound is not the column's min or max
    assert(cat.minMaxFast("ns", "cut", "s").isEmpty)
    assert(cat.minMaxFast("ns", "cut", "n").nonEmpty)
    cat.createTable("ns", "short")
    cat.commitAppend("ns", "short", Seq((1L, "b"), (2L, "abc")).toDF("n", "s"))
    cat.commitAppend("ns", "short", Seq((3L, "zz")).toDF("n", "s"))
    assert(cat.minMaxFast("ns", "short", "s") === Some(("abc", "zz")))
    // files fold in Spark's (UTF-8) string order: an emoji sorts above U+FFFF
    cat.commitAppend("ns", "short", Seq((4L, "\uFFFF")).toDF("n", "s"))
    cat.commitAppend("ns", "short", Seq((5L, "\uD83D\uDE00")).toDF("n", "s"))
    val scanned = cat.read("ns", "short").selectExpr("min(s)", "max(s)").head()
    assert(cat.minMaxFast("ns", "short", "s") === Some((scanned.getString(0), scanned.getString(1))))
    assert(scanned.getString(1) === "\uD83D\uDE00")
    // a short min beside a max that would round up past U+10FFFF: the file
    // records no bound, so no short pair can pose as the column's MIN/MAX
    cat.createTable("ns", "roundup")
    cat.commitAppend("ns", "roundup", Seq((1L, "a"), (2L, "z" * 15 + "\uDBFF\uDFFF" + "q")).toDF("n", "s"))
    assert(cat.minMaxFast("ns", "roundup", "s").isEmpty)
    // pruning parity: every probe finds exactly the rows a full scan does
    def upTo(v: String, n: Int) = v.substring(0, v.offsetByCodePoints(0, n.min(cps(v)).max(0)))
    val probes = (values ++ values.flatMap(v => Seq(upTo(v, 15), upTo(v, 16), upTo(v, 17),
      v + "\u0000", upTo(v, cps(v) - 1) + "\uFFFF")) ++
      Seq(p16 + "Z", "abcdefghijklmnoq", "abcdefghijklmnp", "zzz", "0")).distinct
    val all = values.toSet
    probes.foreach { p =>
      assert(cat.readWhereEquals("ns", "cut", "s", p).count() === (if (all(p)) 1L else 0L),
        s"point probe ${p.take(20)}")
    }
    // ranges compare in UTF-8 byte order, as Spark's string ordering does
    def utf8(x: String) = org.apache.spark.unsafe.types.UTF8String.fromString(x)
    def within(lo: Option[String], hi: Option[String]) = values.count(v =>
      lo.forall(l => utf8(v).compareTo(utf8(l)) >= 0) && hi.forall(h => utf8(v).compareTo(utf8(h)) <= 0))
    probes.sortBy(utf8).grouped(3).foreach { g =>
      Seq((Some(g.head), None), (None, Some(g.last)), (Some(g.head), Some(g.last))).foreach {
        case (lo, hi) =>
          assert(cat.readWhereAll("ns", "cut", Seq(("s", lo, hi))).count() === within(lo, hi),
            s"range ${lo.map(_.take(20))} .. ${hi.map(_.take(20))}")
      }
    }
    // not vacuous: a probe past every bound reads fewer files than the scan
    val total = cat.read("ns", "cut").inputFiles.length
    assert(cat.readWhereEquals("ns", "cut", "s", "abcdefghijklmnoq").inputFiles.length < total)
    // the re-read job records the writer's bounds: the same files
    // registered as landed ones
    cat.createTable("ns", "landed")
    cat.commitAppend("ns", "landed", Seq((0L, "")).toDF("n", "s"))
    val rels = entries.map(_.path)
    rels.foreach(r => Files.copy(cat.tablePath("ns", "cut").resolve(r),
      cat.tablePath("ns", "landed").resolve(r)))
    val landed = cat.commitLandedFiles("ns", "landed", rels, "local")
    val byPath = cat.prunedDataEntries("ns", "landed", landed, Array.empty)
      .map(e => e.path -> e.stats).toMap
    entries.foreach(e => assert(byPath(e.path) === e.stats, s"stats of ${e.path}"))
  }

  test("reads plan from manifests: no listing job, the same input files and " +
       "_metadata paths, exchange reuse, position deletes under an encodable " +
       "dir, a deleted file fails at action time") {
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val wh = Files.createTempDirectory("graft wh+plus").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ns", "t40")
    cat.commitAppend("ns", "t40",
      spark.range(0, 400, 1, 40).select(col("id"), (col("id") % 7).as("k")))
    val snap = cat.latest("ns", "t40").get
    val paths = cat.dataFiles("ns", "t40", snap)
      .map(f => cat.tablePath("ns", "t40").resolve(f).toString)
    assert(paths.size === 40)
    def listings(jobs: Seq[String]) = jobs.filter(_.startsWith("Listing leaf files"))
    val (n, readJobs) = withJobs(cat.read("ns", "t40").count())
    assert(n === 400L)
    assert(listings(readJobs).isEmpty, s"a read listed files: $readJobs")
    // the form it replaced lists 40 paths in a parallel job: not vacuous
    val (old, oldJobs) = withJobs {
      val df = spark.read.parquet(paths: _*); df.count(); df
    }
    assert(listings(oldJobs).nonEmpty, s"expected a listing job: $oldJobs")
    assert(cat.read("ns", "t40").inputFiles.toSet === old.inputFiles.toSet)
    def metaPaths(df: org.apache.spark.sql.DataFrame) =
      df.select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).toSet
    assert(metaPaths(cat.read("ns", "t40")) === metaPaths(old))
    assert(cat.read("ns", "t40").queryExecution.optimizedPlan.stats.sizeInBytes ===
      old.queryExecution.optimizedPlan.stats.sizeInBytes, "broadcast sizing unchanged")

    // a self-join of two reads reuses one exchange
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = cat.read("ns", "t40").groupBy("k").count()
      val b = cat.read("ns", "t40").groupBy("k").count()
      val joined = a.join(b, "k")
      assert(joined.collect().length === 7)
      val reused = new AdaptiveSparkPlanHelper {}.collectWithSubqueries(
        joined.queryExecution.executedPlan) { case r: ReusedExchangeExec => r }
      assert(reused.nonEmpty, s"no ReusedExchange:\n${joined.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)

    // position deletes under a dir whose URI needs encoding (space, '+')
    cat.createTable("ns", "pd")
    cat.commitAppend("ns", "pd", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val pos = cat.positionsWhere("ns", "pd", col("id") === 2L)
    assert(pos.count() === 1L)
    cat.commitDeletePositions("ns", "pd", pos)
    assert(cat.read("ns", "pd").select("id").as[Long].collect().toSet === Set(1L, 3L))

    // a missing file is not probed at planning time; the scan fails loudly
    Files.delete(java.nio.file.Paths.get(paths.head))
    val gone = cat.read("ns", "t40")
    val err = intercept[Exception](gone.count())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(new java.io.File(paths.head).getName)),
      s"the failure must name the missing file: $err")
  }

  test("rewrite_position_deletes: churned p-files consolidate to one " +
       "sorted set, inert entries (COW-rewritten files) drop, reads are " +
       "value-identical before and after") {
    import graft.catalog.GraftCatalog
    val wh = java.nio.file.Files.createTempDirectory("graft-rpd").toString
    val cat = new GraftCatalog(spark, wh)
    cat.createTable("ns", "rpd")
    // several single-file commits so positions target distinct files
    (0 until 4).foreach { i =>
      cat.commitAppend("ns", "rpd",
        (i * 10 until i * 10 + 10).map(k => (k.toLong, s"v$k"))
          .toDF("id", "v").coalesce(1))
    }
    // churn: one position-delete commit per erased row (4 p-files)
    Seq(1L, 11L, 21L, 31L).foreach { id =>
      cat.commitDeletePositions("ns", "rpd",
        cat.positionsWhere("ns", "rpd", org.apache.spark.sql.functions.col("id") === id))
    }
    val before = cat.read("ns", "rpd").select("id").as[Long].collect().sorted.toSeq
    assert(before.size === 36 && !before.contains(21L))
    val posFilesBefore = cat.deleteFileEntries("ns", "rpd",
      cat.latest("ns", "rpd").get).size
    assert(posFilesBefore >= 4) // one commit per erased row, maybe multi-part

    // a COW UPDATE rewrites the file holding id=35: its p-entries (none)
    // plus strand nothing; to make INERT entries, rewrite the file that
    // position-delete 31 targeted
    val c = graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, wh)
    spark.sql(s"UPDATE $c.ns.rpd SET v = 'u' WHERE id = 35") // rewrites file 4
    val mid = cat.read("ns", "rpd").select("id").as[Long].collect().sorted.toSeq
    assert(mid === before, "COW rewrite must not change the row set (v changed only)")

    val (snap, eliminated) = cat.rewritePositionDeletes("ns", "rpd")
    assert(eliminated >= 2, s"4 single-row p-files must consolidate; got $eliminated")
    val after = cat.read("ns", "rpd").select("id").as[Long].collect().sorted.toSeq
    assert(after === before, "consolidation must be value-identical")
    // exactly one p-manifest remains, at the END of the list
    val pms = snap.manifests.filter(_.startsWith("_meta/manifests/p"))
    assert(pms.size === 1 && snap.manifests.last === pms.head)
    // idempotent: a second run is a no-op
    val (snap2, n2) = cat.rewritePositionDeletes("ns", "rpd")
    assert(n2 === 0 && snap2.seq === snap.seq)
    // old versions still time-travel to their own delete state
    assert(cat.readVersion("ns", "rpd", 3).count() === 40L)
    // SQL procedure surface
    cat.commitDeletePositions("ns", "rpd",
      cat.positionsWhere("ns", "rpd", org.apache.spark.sql.functions.col("id") === 2L))
    val r = spark.sql(
      s"CALL $c.system.rewrite_position_deletes('ns', 'rpd')").head()
    assert(r.getLong(1) >= 1L)
    assert(cat.read("ns", "rpd").count() === (before.size - 1).toLong)

    // CONVERGENCE with an all-dead delete set: compact() materializes
    // everything (fresh files), then a position delete whose target is
    // COW-rewritten leaves ONE fully-inert p-file — the rewrite must
    // DROP it (no zero-row replacement) and the next call must no-op,
    // never churn no-op versions forever
    cat.compact("ns", "rpd", 128L * 1024 * 1024)
    val nRows = cat.read("ns", "rpd").count()
    cat.commitDeletePositions("ns", "rpd",
      cat.positionsWhere("ns", "rpd", org.apache.spark.sql.functions.col("id") === 3L))
    spark.sql(s"UPDATE $c.ns.rpd SET v = 'z' WHERE id = 4") // rewrites 3's file too
    val (s1, e1) = cat.rewritePositionDeletes("ns", "rpd")
    assert(e1 >= 1, "the inert delete file must be eliminated")
    assert(!s1.manifests.exists(_.startsWith("_meta/manifests/p")),
      "no replacement p-manifest for an all-dead set")
    val (s2, e2) = cat.rewritePositionDeletes("ns", "rpd")
    assert(e2 === 0 && s2.seq === s1.seq, "second call must be a no-op")
    // the COW rewrite already materialized the erasure of id=3
    assert(cat.read("ns", "rpd").count() === nRows - 1)
  }

  test("mergeSchema appends — the documented decision: extra columns " +
       "WIDEN the schema in the same CAS commit (plain commitAppend), " +
       "missing columns refuse there but NULL-FILL via the explicit " +
       "commitAppendMerge; type changes refuse either way") {
    import spark.implicits._
    val cat = freshCatalog()
    cat.createTable("ns", "ms")
    cat.commitAppend("ns", "ms", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))

    // widen: one commit carries BOTH the new column and its data
    val v1 = cat.commitAppend("ns", "ms",
      Seq((3L, "c", 9.5)).toDF("id", "s", "score"))
    assert(cat.tableSchema("ns", "ms").get.fieldNames.toSeq ===
      Seq("id", "s", "score"))
    assert(v1.seq === 1L, "widening must NOT spend an extra version")
    // pre-widen rows read the new column as null
    assert(cat.read("ns", "ms").filter("score IS NULL").count() === 2L)

    // missing column: plain append refuses loudly...
    val e = intercept[IllegalArgumentException](
      cat.commitAppend("ns", "ms", Seq((4L, "d")).toDF("id", "s")))
    assert(e.getMessage.contains("missing from the appended data"))
    // ...the explicit merge form null-fills it
    cat.commitAppendMerge("ns", "ms", Seq((4L, "d")).toDF("id", "s"))
    assert(cat.read("ns", "ms").count() === 4L)
    assert(cat.read("ns", "ms").filter("id = 4 AND score IS NULL").count() === 1L)

    // merge also widens (both directions in one batch)
    cat.commitAppendMerge("ns", "ms", Seq((5L, 7.0, true)).toDF("id", "score", "flag"))
    assert(cat.tableSchema("ns", "ms").get.fieldNames.toSeq ===
      Seq("id", "s", "score", "flag"))
    assert(cat.read("ns", "ms").filter("flag").count() === 1L)

    // a type change is never a write side effect
    val e2 = intercept[IllegalArgumentException](
      cat.commitAppendMerge("ns", "ms", Seq(("x", "y")).toDF("id", "s")))
    assert(e2.getMessage.contains("changed"))

    // name matching honors the session's (default: case-INsensitive)
    // resolution: a batch spelling 'ID'/'S' lands in id/s — an
    // exact-case match would null-fill them and widen with duplicates,
    // silently misplacing the batch's data
    cat.commitAppendMerge("ns", "ms", Seq((6L, "f")).toDF("ID", "S"))
    assert(cat.tableSchema("ns", "ms").get.fieldNames.toSeq ===
      Seq("id", "s", "score", "flag"),
      "a case-variant batch must not widen the schema")
    assert(cat.read("ns", "ms").filter("id = 6 AND s = 'f'").count() === 1L)
  }
}

package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.catalog.GraftCatalog

/** SQL row-level operations (UPDATE / MERGE INTO / subquery DELETE) via
  * SupportsRowLevelOperations — group-based copy-on-write at FILE
  * granularity. The contract under test: statements are transactional
  * (one new version, CAS-conditional on the planned head), file-granular
  * (files whose manifest bounds exclude the predicate are carried
  * VERBATIM — same path, stats, blooms), and row-preserving (unmatched
  * rows of matched files survive the rewrite bit-for-bit). */
class RowLevelOpsSpec extends SparkSpec {
  import spark.implicits._

  private def register(): (GraftCatalog, String) = {
    val wh = Files.createTempDirectory("graft-rlo").toString
    (new GraftCatalog(spark, wh),
      graft.catalog.GraftSparkCatalog.registerSqlCatalog(spark, wh))
  }

  test("UPDATE rewrites only the files whose bounds admit the predicate; " +
       "unmatched rows of a matched file survive; history is intact") {
    val (cat, c) = register()
    cat.createTable("m", "t")
    // three id-clustered files: bounds [1,3] [11,13] [21,23]
    cat.commitAppend("m", "t",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v").coalesce(1))
    cat.commitAppend("m", "t",
      Seq((11L, 110.0), (12L, 120.0), (13L, 130.0)).toDF("id", "v").coalesce(1))
    cat.commitAppend("m", "t",
      Seq((21L, 210.0), (22L, 220.0), (23L, 230.0)).toDF("id", "v").coalesce(1))
    val before = cat.latest("m", "t").get
    val filesBefore = cat.dataFiles("m", "t", before).toSet
    assert(filesBefore.size === 3)

    spark.sql(s"UPDATE $c.m.t SET v = v * 2 WHERE id = 12")

    val after = cat.latest("m", "t").get
    assert(after.seq === before.seq + 1, "one new version per statement")
    assert(spark.sql(s"SELECT id, v FROM $c.m.t ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0),
          (11L, 110.0), (12L, 240.0), (13L, 130.0),
          (21L, 210.0), (22L, 220.0), (23L, 230.0)))

    // FILE GRANULARITY: files 1 and 3 carried verbatim, file 2 swapped
    val filesAfter = cat.dataFiles("m", "t", after).toSet
    assert((filesBefore intersect filesAfter).size === 2,
      s"two untouched files must keep their paths: $filesBefore vs $filesAfter")
    assert((filesAfter -- filesBefore).size === 1, "one replacement file")

    // the new file carries commit-grade stats: countFast stays
    // metadata-served and bounds prune (id=12 reads one file)
    assert(cat.countFastOpt("m", "t") === Some(9L))
    val probe = cat.readWhere("m", "t", "id", Some("12"), Some("12"))
    assert(probe.inputFiles.length === 1, "rewritten file must carry bounds")
    assert(probe.as[(Long, Double)].collect().toSeq === Seq((12L, 240.0)))

    // time travel unaffected
    assert(spark.sql(s"SELECT v FROM $c.m.t VERSION AS OF ${before.seq} WHERE id = 12")
      .head().getDouble(0) === 120.0)
  }

  test("UPDATE matching nothing publishes NO new version") {
    val (cat, c) = register()
    cat.createTable("m", "noop")
    cat.commitAppend("m", "noop", Seq((1L, "a")).toDF("id", "s"))
    val before = cat.latest("m", "noop").get.seq
    spark.sql(s"UPDATE $c.m.noop SET s = 'x' WHERE id = 999")
    assert(cat.latest("m", "noop").get.seq === before,
      "a no-match statement must not burn a version")
    assert(spark.sql(s"SELECT s FROM $c.m.noop").head().getString(0) === "a")
  }

  test("MERGE INTO: matched update + not-matched insert in one atomic " +
       "version; a target-only ON conjunct prunes files statically") {
    val (cat, c) = register()
    cat.createTable("m", "tgt")
    cat.commitAppend("m", "tgt",
      Seq((1L, 100.0), (2L, 200.0)).toDF("id", "amt").coalesce(1))
    cat.commitAppend("m", "tgt",
      Seq((50L, 500.0), (60L, 600.0)).toDF("id", "amt").coalesce(1))
    val before = cat.latest("m", "tgt").get
    val filesBefore = cat.dataFiles("m", "tgt", before).toSet

    Seq((2L, 9.0), (3L, 33.0)).toDF("id", "amt").createOrReplaceTempView("src")
    // the target-only conjunct (t.id < 10) bounds the candidate set
    // STATICALLY (manifest arithmetic, no job); the join itself is
    // source-dependent and narrows at runtime (tests below)
    spark.sql(
      s"""MERGE INTO $c.m.tgt t USING src s ON t.id = s.id AND t.id < 10
         |WHEN MATCHED THEN UPDATE SET amt = t.amt + s.amt
         |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (s.id, s.amt)
         |""".stripMargin)

    val after = cat.latest("m", "tgt").get
    assert(after.seq === before.seq + 1, "MERGE is one atomic version")
    assert(spark.sql(s"SELECT id, amt FROM $c.m.tgt ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 100.0), (2L, 209.0), (3L, 33.0), (50L, 500.0), (60L, 600.0)))
    // the [50,60] file's bounds exclude the target-only conjunct —
    // carried verbatim IF Spark pushed it; never rewritten INCORRECTLY
    // either way (the strong assertion is the row content above)
    val filesAfter = cat.dataFiles("m", "tgt", after).toSet
    assert((filesBefore -- filesAfter).nonEmpty, "matched file rewritten")
    // time travel: pre-merge state intact
    assert(spark.sql(s"SELECT sum(amt) FROM $c.m.tgt VERSION AS OF ${before.seq}")
      .head().getDouble(0) === 1400.0)
  }

  test("UPDATE keyed on a timestamp AT a file's max bound lands: " +
       "incommensurable probe forms must skip bounds, not mis-prune") {
    val (cat, c) = register()
    cat.createTable("m", "tsb")
    // file 1's ts max IS the probed value — a lexicographic compare of
    // java.sql.Timestamp.toString ('...00.0') vs the cast-form stat
    // ('...00') reads the probe as ABOVE the max and silently drops the
    // file from the candidate set (the UPDATE no-ops = data loss)
    cat.commitAppend("m", "tsb", Seq(
      (1L, java.sql.Timestamp.valueOf("2024-05-01 09:00:00"), 0.0),
      (2L, java.sql.Timestamp.valueOf("2024-05-01 10:00:00"), 0.0))
      .toDF("id", "ts", "v").coalesce(1))
    cat.commitAppend("m", "tsb", Seq(
      (3L, java.sql.Timestamp.valueOf("2024-05-02 09:00:00"), 0.0))
      .toDF("id", "ts", "v").coalesce(1))
    spark.sql(s"UPDATE $c.m.tsb SET v = 1.0 " +
      "WHERE ts = TIMESTAMP'2024-05-01 10:00:00'")
    assert(spark.sql(s"SELECT id, v FROM $c.m.tsb ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 0.0), (2L, 1.0), (3L, 0.0)),
      "the max-bound row must update — a silent no-op means bounds mis-pruned")
  }

  test("MERGE with a join-only ON condition rewrites ONLY the files " +
       "holding matching keys (runtime group filtering)") {
    val (cat, c) = register()
    cat.createTable("m", "rgf")
    // three id-clustered files; no target-only conjunct anywhere, so
    // static pruning keeps all three — only the matching-files subquery
    // (Spark's RowLevelOperationRuntimeGroupFiltering through the COW
    // scan's SupportsRuntimeV2Filtering surface) can narrow
    cat.commitAppend("m", "rgf",
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amt").coalesce(1))
    cat.commitAppend("m", "rgf",
      Seq((11L, 110.0), (12L, 120.0)).toDF("id", "amt").coalesce(1))
    cat.commitAppend("m", "rgf",
      Seq((21L, 210.0), (22L, 220.0)).toDF("id", "amt").coalesce(1))
    val before = cat.latest("m", "rgf").get
    val filesBefore = cat.dataFiles("m", "rgf", before).toSet
    assert(filesBefore.size === 3)

    Seq((12L, 1.0), (99L, 999.0)).toDF("id", "amt")
      .createOrReplaceTempView("rgf_src")
    spark.sql(
      s"""MERGE INTO $c.m.rgf t USING rgf_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amt = t.amt + s.amt
         |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (s.id, s.amt)
         |""".stripMargin)

    assert(spark.sql(s"SELECT id, amt FROM $c.m.rgf ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 20.0), (11L, 110.0), (12L, 121.0),
          (21L, 210.0), (22L, 220.0), (99L, 999.0)))

    // FILE GRANULARITY despite the join-dependent condition: the [1,2]
    // and [21,22] files hold no matching key — carried verbatim
    val after = cat.latest("m", "rgf").get
    val filesAfter = cat.dataFiles("m", "rgf", after).toSet
    assert((filesBefore intersect filesAfter).size === 2,
      s"non-matching files must keep their paths: $filesBefore vs $filesAfter")
    // unmatched rows of the matched file survived (11 above), and the
    // pre-merge state is reachable
    assert(spark.sql(s"SELECT sum(amt) FROM $c.m.rgf VERSION AS OF ${before.seq}")
      .head().getDouble(0) === 690.0)
  }

  test("MERGE matching NO file: runtime narrowing empties the rewrite, " +
       "inserts still land in one version") {
    val (cat, c) = register()
    cat.createTable("m", "rgfe")
    cat.commitAppend("m", "rgfe",
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "amt").coalesce(1))
    val before = cat.latest("m", "rgfe").get
    val filesBefore = cat.dataFiles("m", "rgfe", before).toSet
    Seq((500L, 5.0)).toDF("id", "amt").createOrReplaceTempView("rgfe_src")
    spark.sql(
      s"""MERGE INTO $c.m.rgfe t USING rgfe_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amt = s.amt
         |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (s.id, s.amt)
         |""".stripMargin)
    val after = cat.latest("m", "rgfe").get
    assert(after.seq === before.seq + 1)
    assert(filesBefore.subsetOf(cat.dataFiles("m", "rgfe", after).toSet),
      "no existing file may be rewritten when nothing matches")
    assert(spark.sql(s"SELECT id, amt FROM $c.m.rgfe ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 1.0), (2L, 2.0), (500L, 5.0)))
  }

  test("runtime group filter disabled by conf: every candidate file is " +
       "rewritten, result identical") {
    val (cat, c) = register()
    cat.createTable("m", "rgfd")
    cat.commitAppend("m", "rgfd",
      Seq((1L, 1.0)).toDF("id", "amt").coalesce(1))
    cat.commitAppend("m", "rgfd",
      Seq((11L, 11.0)).toDF("id", "amt").coalesce(1))
    val filesBefore = cat.dataFiles("m", "rgfd", cat.latest("m", "rgfd").get).toSet
    Seq((11L, 1.0)).toDF("id", "amt").createOrReplaceTempView("rgfd_src")
    val key = "spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "false")
      spark.sql(
        s"""MERGE INTO $c.m.rgfd t USING rgfd_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET amt = t.amt + s.amt
           |""".stripMargin)
    } finally spark.conf.set(key, prev)
    val filesAfter = cat.dataFiles("m", "rgfd", cat.latest("m", "rgfd").get).toSet
    assert((filesBefore intersect filesAfter).isEmpty,
      "with the group filter off, a join-only MERGE rewrites all candidates")
    assert(spark.sql(s"SELECT id, amt FROM $c.m.rgfd ORDER BY id")
      .as[(Long, Double)].collect().toSeq === Seq((1L, 1.0), (11L, 12.0)))
  }

  test("UPDATE with an untranslatable predicate narrows through the " +
       "matching-files subquery instead of rewriting every file") {
    val (cat, c) = register()
    cat.createTable("m", "rgfu")
    cat.commitAppend("m", "rgfu",
      Seq((1L, "alpha"), (2L, "beta")).toDF("id", "s").coalesce(1))
    cat.commitAppend("m", "rgfu",
      Seq((3L, "midway"), (4L, "gamma")).toDF("id", "s").coalesce(1))
    cat.commitAppend("m", "rgfu",
      Seq((5L, "delta"), (6L, "omega")).toDF("id", "s").coalesce(1))
    val before = cat.latest("m", "rgfu").get
    val filesBefore = cat.dataFiles("m", "rgfu", before).toSet
    // '%mid%' translates to StringContains, which manifest bounds cannot
    // evaluate (static pruning keeps all three files) — the runtime
    // matching-files subquery pins the one file that actually matches
    spark.sql(s"UPDATE $c.m.rgfu SET s = 'MID' WHERE s LIKE '%mid%'")
    val after = cat.latest("m", "rgfu").get
    val filesAfter = cat.dataFiles("m", "rgfu", after).toSet
    assert((filesBefore intersect filesAfter).size === 2,
      s"only the matching file may be rewritten: $filesBefore vs $filesAfter")
    assert(spark.sql(s"SELECT s FROM $c.m.rgfu ORDER BY id").as[String]
      .collect().toSeq === Seq("alpha", "beta", "MID", "gamma", "delta", "omega"))
  }

  test("MERGE with NOT MATCHED BY SOURCE delete stays row-correct " +
       "(group filtering must not hide unmatched target rows)") {
    val (cat, c) = register()
    cat.createTable("m", "rgfs")
    cat.commitAppend("m", "rgfs",
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "amt").coalesce(1))
    cat.commitAppend("m", "rgfs",
      Seq((11L, 11.0), (12L, 12.0)).toDF("id", "amt").coalesce(1))
    Seq((2L, 20.0)).toDF("id", "amt").createOrReplaceTempView("rgfs_src")
    // every target row changes or is re-kept: matched → update, not
    // matched by source → delete; a file-granular group filter keyed on
    // the join alone would silently KEEP rows 11/12 — Spark must (and
    // does) widen or skip the filter for this shape; the contract under
    // test is the final row set
    spark.sql(
      s"""MERGE INTO $c.m.rgfs t USING rgfs_src s ON t.id = s.id
         |WHEN MATCHED THEN UPDATE SET amt = s.amt
         |WHEN NOT MATCHED BY SOURCE THEN DELETE
         |""".stripMargin)
    assert(spark.sql(s"SELECT id, amt FROM $c.m.rgfs ORDER BY id")
      .as[(Long, Double)].collect().toSeq === Seq((2L, 20.0)))
  }

  test("MERGE with NOT MATCHED BY SOURCE in merge-on-read mode: delta " +
       "write stays row-correct (unmatched target rows delete via " +
       "position-delete files, no data file rewritten)") {
    val (cat, c) = register()
    cat.createTable("m", "nms")
    cat.commitAppend("m", "nms",
      Seq((1L, 1.0), (2L, 2.0)).toDF("id", "amt").coalesce(1))
    cat.commitAppend("m", "nms",
      Seq((11L, 11.0), (12L, 12.0)).toDF("id", "amt").coalesce(1))
    val dataFilesBefore = cat.dataFiles("m", "nms", cat.latest("m", "nms").get)
      .filterNot(_.contains("del")).toSet
    Seq((2L, 20.0), (5L, 5.0)).toDF("id", "amt")
      .createOrReplaceTempView("nms_src")
    spark.conf.set("spark.graft.rowlevel.mode", "merge-on-read")
    try
      spark.sql(
        s"""MERGE INTO $c.m.nms t USING nms_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET amt = s.amt
           |WHEN NOT MATCHED THEN INSERT (id, amt) VALUES (s.id, s.amt)
           |WHEN NOT MATCHED BY SOURCE THEN DELETE
           |""".stripMargin)
    finally spark.conf.unset("spark.graft.rowlevel.mode")
    assert(spark.sql(s"SELECT id, amt FROM $c.m.nms ORDER BY id")
      .as[(Long, Double)].collect().toSeq === Seq((2L, 20.0), (5L, 5.0)))
    // MoR contract: the original data files are still live (the delta
    // added position-delete + new data files, rewrote nothing)
    val dataFilesAfter = cat.dataFiles("m", "nms", cat.latest("m", "nms").get).toSet
    assert(dataFilesBefore.subsetOf(dataFilesAfter),
      s"MoR merge must keep original files live; before=$dataFilesBefore after=$dataFilesAfter")
  }

  test("MERGE cardinality violation (one target row, two source matches) " +
       "fails loudly and publishes nothing") {
    val (cat, c) = register()
    cat.createTable("m", "card")
    cat.commitAppend("m", "card", Seq((1L, 1.0)).toDF("id", "amt"))
    val before = cat.latest("m", "card").get.seq
    Seq((1L, 2.0), (1L, 3.0)).toDF("id", "amt").createOrReplaceTempView("dupsrc")
    val e = intercept[Exception] {
      spark.sql(
        s"""MERGE INTO $c.m.card t USING dupsrc s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET amt = s.amt
           |""".stripMargin)
    }
    assert(e.getMessage.toLowerCase.contains("merge") ||
           e.getMessage.toLowerCase.contains("cardinality"),
      s"unexpected error: ${e.getMessage}")
    assert(cat.latest("m", "card").get.seq === before, "nothing published")
    assert(spark.sql(s"SELECT amt FROM $c.m.card").head().getDouble(0) === 1.0)
  }

  test("translatable conditional DELETE is FILE-GRANULAR: it routes " +
       "row-level (not the metadata path's whole-table replace)") {
    val (cat, c) = register()
    cat.createTable("m", "dtr")
    cat.commitAppend("m", "dtr",
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    cat.commitAppend("m", "dtr",
      Seq((11L, "c"), (12L, "d")).toDF("id", "s").coalesce(1))
    cat.commitAppend("m", "dtr",
      Seq((21L, "e"), (22L, "f")).toDF("id", "s").coalesce(1))
    val before = cat.latest("m", "dtr").get
    val filesBefore = cat.dataFiles("m", "dtr", before).toSet
    spark.sql(s"DELETE FROM $c.m.dtr WHERE id = 12")
    val after = cat.latest("m", "dtr").get
    assert(after.seq === before.seq + 1, "one atomic version")
    assert(spark.sql(s"SELECT id FROM $c.m.dtr ORDER BY id").as[Long]
      .collect().toSeq === Seq(1L, 2L, 11L, 21L, 22L))
    val filesAfter = cat.dataFiles("m", "dtr", after).toSet
    assert((filesBefore intersect filesAfter).size === 2,
      s"the two non-matching files must keep their paths (a whole-table " +
        s"replace keeps none): $filesBefore vs $filesAfter")
  }

  test("merge-on-read mode: translatable conditional DELETE appends " +
       "position deltas — no data file rewritten, O(changed rows)") {
    val (cat, c) = register()
    cat.createTable("m", "dtm")
    cat.commitAppend("m", "dtm",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").coalesce(1))
    cat.commitAppend("m", "dtm",
      Seq((11L, "d"), (12L, "e")).toDF("id", "s").coalesce(1))
    val before = cat.latest("m", "dtm").get
    val filesBefore = cat.dataFiles("m", "dtm", before).toSet
    spark.conf.set("spark.graft.rowlevel.mode", "merge-on-read")
    try spark.sql(s"DELETE FROM $c.m.dtm WHERE id <= 2")
    finally spark.conf.unset("spark.graft.rowlevel.mode")
    val after = cat.latest("m", "dtm").get
    assert(cat.dataFiles("m", "dtm", after).toSet === filesBefore,
      "merge-on-read DELETE must not rewrite or drop any data file")
    assert(cat.deleteFileEntries("m", "dtm", after).nonEmpty,
      "the delta must materialize as position-delete files")
    assert(spark.sql(s"SELECT id FROM $c.m.dtm ORDER BY id").as[Long]
      .collect().toSeq === Seq(3L, 11L, 12L))
  }

  test("DELETE with a subquery predicate routes through the COW rewrite " +
       "(not metadata deleteWhere) and is transactional") {
    val (cat, c) = register()
    cat.createTable("m", "dsub")
    cat.commitAppend("m", "dsub",
      Seq((1L, "keep"), (2L, "drop"), (3L, "keep")).toDF("id", "s"))
    Seq(2L).toDF("bad_id").createOrReplaceTempView("bad")
    spark.sql(s"DELETE FROM $c.m.dsub WHERE id IN (SELECT bad_id FROM bad)")
    assert(spark.sql(s"SELECT id FROM $c.m.dsub ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L))
  }

  test("UPDATE on a merge-on-read table applies live deletes before the " +
       "rewrite and keeps them for untouched files") {
    val (cat, c) = register()
    cat.createTable("m", "mor")
    cat.commitAppend("m", "mor",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v").coalesce(1))
    cat.commitAppend("m", "mor",
      Seq((11L, 110.0), (12L, 120.0)).toDF("id", "v").coalesce(1))
    // MoR equality delete of id=2 (applies to file 1)
    cat.commitDelete("m", "mor", Seq(2L).toDF("id"))

    // rewrite file 1 (bounds [1,3]): the scan must see id=2 already gone
    spark.sql(s"UPDATE $c.m.mor SET v = 0.0 WHERE id <= 3")
    assert(spark.sql(s"SELECT id, v FROM $c.m.mor ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 0.0), (3L, 0.0), (11L, 110.0), (12L, 120.0)),
      "deleted row must not resurrect through the rewrite")

    // and an UPDATE of the OTHER file leaves the delete semantics alone
    spark.sql(s"UPDATE $c.m.mor SET v = 1.0 WHERE id = 11")
    assert(spark.sql(s"SELECT id FROM $c.m.mor ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 3L, 11L, 12L))
  }

  test("lineage metadata columns: SELECT _file, _pos serve the Iceberg " +
       "habit and identify each row's physical location") {
    val (cat, c) = register()
    cat.createTable("m", "lin")
    cat.commitAppend("m", "lin",
      Seq((1L, "a"), (2L, "b")).toDF("id", "s").coalesce(1))
    cat.commitAppend("m", "lin", Seq((3L, "c")).toDF("id", "s").coalesce(1))
    val rows = spark.sql(
      s"SELECT id, _file, _pos FROM $c.m.lin ORDER BY id")
      .as[(Long, String, Long)].collect().toSeq
    val files = cat.dataFiles("m", "lin", cat.latest("m", "lin").get).toSet
    assert(rows.map(_._1) === Seq(1L, 2L, 3L))
    assert(rows.forall(r => files.contains(r._2)),
      s"_file must be the manifest-relative path: $rows vs $files")
    assert(rows.map(r => (r._2, r._3)).distinct.size === 3,
      "(_file, _pos) uniquely identifies each row")
    assert(rows.take(2).map(_._3) === Seq(0L, 1L), "ordinals within the file")
    // SELECT * does NOT leak metadata columns
    assert(spark.sql(s"SELECT * FROM $c.m.lin").columns.toSeq === Seq("id", "s"))
  }

  test("UPDATE with a bloom-indexed point predicate rewrites one file even " +
       "though every file's range covers the key") {
    val (cat, c) = register()
    cat.createTable("m", "bl")
    // interleaved keys: min/max of each file covers the other's keys,
    // so only the bloom can prune
    cat.commitAppend("m", "bl",
      Seq((1L, "a"), (100L, "b")).toDF("id", "s").coalesce(1),
      bloomCols = Seq("id"))
    cat.commitAppend("m", "bl",
      Seq((2L, "c"), (99L, "d")).toDF("id", "s").coalesce(1),
      bloomCols = Seq("id"))
    val before = cat.latest("m", "bl").get
    val filesBefore = cat.dataFiles("m", "bl", before).toSet
    spark.sql(s"UPDATE $c.m.bl SET s = 'X' WHERE id = 99")
    val after = cat.latest("m", "bl").get
    val filesAfter = cat.dataFiles("m", "bl", after).toSet
    assert((filesBefore intersect filesAfter).size === 1,
      s"bloom must keep the non-holding file: $filesBefore vs $filesAfter")
    assert(spark.sql(s"SELECT s FROM $c.m.bl WHERE id = 99").head().getString(0) === "X")
    assert(spark.sql(s"SELECT count(*) FROM $c.m.bl").head().getLong(0) === 4L)
  }

  test("a failing row-level statement publishes nothing and leaves no " +
       "staged cow files behind (abort cleanup)") {
    val (cat, c) = register()
    cat.createTable("m", "boom")
    cat.commitAppend("m", "boom", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    val before = cat.latest("m", "boom").get.seq
    spark.udf.register("graft_boom",
      (s: String) => (sys.error("boom " + s): String))
    intercept[Exception] {
      spark.sql(s"UPDATE $c.m.boom SET s = graft_boom(s) WHERE id >= 1")
    }
    assert(cat.latest("m", "boom").get.seq === before, "nothing published")
    assert(spark.sql(s"SELECT id, s FROM $c.m.boom ORDER BY id")
      .as[(Long, String)].collect().toSeq === Seq((1L, "a"), (2L, "b")))
    // the write's staged files (data/cow-*) must be gone
    val dataDir = java.nio.file.Paths.get(cat.warehouse, "m", "boom", "data")
    val leftovers = Files.list(dataDir).iterator()
    val cowDirs = new scala.collection.mutable.ArrayBuffer[String]
    while (leftovers.hasNext) {
      val p = leftovers.next().getFileName.toString
      if (p.startsWith("cow-")) cowDirs += p
    }
    assert(cowDirs.isEmpty, s"aborted staging must be cleaned: $cowDirs")
  }

  test("RowParquetWriter round-trips every common type byte-compatibly " +
       "with Spark's reader, records exact cast-to-string stats, and " +
       "writes INT64-micros timestamps") {
    import org.apache.spark.sql.types._
    val df = spark.sql(
      """SELECT id,
                CAST(id AS INT) AS i,
                CASE WHEN id = 1 THEN NULL ELSE concat('s', id) END AS s,
                CAST(id AS DOUBLE) / 4 AS dbl,
                id % 2 = 0 AS b,
                DATE_ADD(DATE'2024-01-01', CAST(id AS INT)) AS d,
                TIMESTAMP'2024-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id) AS ts,
                CAST(id AS DECIMAL(12,2)) * 7 AS dec,
                array(id, id + 1) AS arr,
                named_struct('x', id, 'y', concat('n', id)) AS st,
                map(concat('k', id), id) AS mp
         FROM range(0, 5)""")
    val schema = df.schema
    val out = Files.createTempDirectory("rpw").resolve("f.parquet").toString
    val w = new graft.catalog.RowParquetWriter(out, schema,
      spark.sparkContext.hadoopConfiguration)
    // copy: collect() on a codegen'd local plan yields REUSED UnsafeRow
    // references (the real write path consumes each row before reuse)
    df.queryExecution.toRdd.map(_.copy()).collect().foreach(w.write)
    val graft.catalog.RowParquetWriter.Written(size, rows, stats, _) = w.close()
    assert(rows === 5L && size > 0L)

    // byte-level read-back equality via Spark's own reader
    val back = spark.read.parquet(out)
    // catalogString = names + types, nullability-insensitive (the
    // reader infers nullable containers)
    assert(back.schema.catalogString === schema.catalogString)
    // set ops refuse MAP columns — compare via a canonical string form
    def canon(x: org.apache.spark.sql.DataFrame): Seq[String] =
      x.selectExpr("to_json(struct(*)) AS j").as[String].collect().toSeq.sorted
    assert(canon(back) === canon(df))

    // stats: exactly the commit job's cast-to-string forms, prunable
    // columns only, plus the reserved __rows count
    val expected = df.agg(
      org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("dbl"))
        .cast("string"),
      org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("dbl"))
        .cast("string"),
      org.apache.spark.sql.functions.min(org.apache.spark.sql.functions.col("s"))
        .cast("string"),
      org.apache.spark.sql.functions.max(org.apache.spark.sql.functions.col("s"))
        .cast("string")).head()
    assert(stats("dbl") === ((expected.getString(0), expected.getString(1))))
    assert(stats("s") === ((expected.getString(2), expected.getString(3))))
    assert(stats("__rows") === (("5", "5")))
    assert(stats("d") === (("2024-01-01", "2024-01-05")))
    assert(stats("b") === (("false", "true")))
    assert(stats("dec") === (("0.00", "28.00")))
    // timestamps record TZ-STABLE epoch-micros bounds (the staged-stats
    // job's unix_micros form — NOT cast-to-string, which is session-tz)
    val tsExp = df.agg(
      org.apache.spark.sql.functions.min(
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts"))).cast("string"),
      org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.unix_micros(
          org.apache.spark.sql.functions.col("ts"))).cast("string")).head()
    assert(stats("ts") === ((tsExp.getString(0), tsExp.getString(1))))
    assert(!stats.contains("arr") && !stats.contains("st") &&
      !stats.contains("mp"), "non-prunable types record no bounds")

    // physical timestamp type is INT64 (micros), the export-safe form
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(out), spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val tsCol = r.getFileMetaData.getSchema.getColumns.asScala
        .find(_.getPath.mkString(".") == "ts").get
      assert(tsCol.getPrimitiveType.getPrimitiveTypeName.toString === "INT64")
    } finally r.close()
  }

  test("candidate pruning compares string bounds in UTF-8 order: a " +
       "supplementary-plane max bound must not hide a BMP probe") {
    val (cat, c) = register()
    cat.createTable("m", "u8")
    // UTF-16 code-unit order puts the emoji (surrogates 0xD83D..) BELOW
    // u''; UTF-8/code-point order puts it ABOVE — a Java-string
    // compare would conclude max < probe and prune the file, silently
    // losing the update
    cat.commitAppend("m", "u8",
      Seq((1L, ""), (2L, "😀")).toDF("id", "s").coalesce(1))
    spark.sql(s"UPDATE $c.m.u8 SET id = 99 WHERE s = ''")
    assert(spark.sql(s"SELECT id FROM $c.m.u8 ORDER BY id")
      .as[Long].collect().toSeq === Seq(2L, 99L), "the update must land")
  }

  test("blooms on a type whose probe string diverges from the build form " +
       "(timestamp) probe in the recorded epoch-micros form: the update " +
       "lands AND an absent in-range key prunes") {
    val (cat, c) = register()
    cat.createTable("m", "tsb")
    val df = spark.sql(
      """SELECT id, TIMESTAMP'2024-06-01 12:00:00' + make_interval(0,0,0,0,0,0,id) AS ts
         FROM range(0, 3)""")
    cat.commitAppend("m", "tsb", df.coalesce(1), bloomCols = Seq("ts"))
    spark.sql(s"UPDATE $c.m.tsb SET id = 99 " +
      "WHERE ts = TIMESTAMP'2024-06-01 12:00:01'")
    assert(spark.sql(s"SELECT id FROM $c.m.tsb ORDER BY id")
      .as[Long].collect().toSeq === Seq(0L, 2L, 99L),
      "a java-toString bloom probe ('…01.0') would prune every file")
    // the bloom is PROBED, not skipped: an absent key INSIDE the file's
    // [min, max] (12:00:01.5 between :01 and :02) can only be proven
    // away by the micros-form bloom — bounds cover it
    val miss = cat.readWhereEquals("m", "tsb", "ts", "2024-06-01 12:00:01.5")
    assert(miss.inputFiles.isEmpty,
      s"micros-form timestamp bloom must prune the covering file: read " +
        s"${miss.inputFiles.length} files")
    // and a PRESENT key still reads through (no false prune)
    assert(cat.readWhereEquals("m", "tsb", "ts", "2024-06-01 12:00:02")
      .count() === 1L)
  }

  test("a COW rewrite carries bloom filters onto the replacement file") {
    val (cat, c) = register()
    cat.createTable("m", "blc")
    cat.commitAppend("m", "blc",
      Seq((1L, "a"), (100L, "b")).toDF("id", "s").coalesce(1), bloomCols = Seq("id"))
    cat.commitAppend("m", "blc",
      Seq((2L, "c"), (99L, "d")).toDF("id", "s").coalesce(1), bloomCols = Seq("id"))
    spark.sql(s"UPDATE $c.m.blc SET s = 'X' WHERE id = 99")
    // both files' ranges cover an ABSENT key; only blooms can prove it
    // away — if the rewrite dropped the bloom, the replacement file
    // would be read
    val probe = cat.readWhereEquals("m", "blc", "id", "3")
    assert(probe.inputFiles.isEmpty,
      s"replacement file must keep its bloom: read ${probe.inputFiles.length} files")
    assert(cat.readWhereEquals("m", "blc", "id", "99").as[(Long, String)]
      .collect().toSeq === Seq((99L, "X")))
  }

  test("a data column named _file keeps working (no lineage twin is " +
       "advertised); row-level SQL on such a table refuses loudly") {
    val (cat, c) = register()
    cat.createTable("m", "clash")
    cat.commitAppend("m", "clash",
      Seq((1L, "userfile-a")).toDF("id", "_file"))
    assert(spark.sql(s"SELECT _file FROM $c.m.clash").head().getString(0)
      === "userfile-a", "the DATA column must resolve, not the lineage")
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $c.m.clash SET id = 2 WHERE id = 1")
    }
    assert(e.getMessage.contains("reserved lineage"), e.getMessage)
    // and a version-less legacy table answers lineage with zero rows
    cat.createTable("m", "bare")
    val lin = cat.readWithLineage("m", "bare")
    assert(lin.columns.toSeq === Seq("_file", "_pos") && lin.count() === 0L)
  }

  private def inMorMode[T](body: => T): T = {
    spark.conf.set("spark.graft.rowlevel.mode", "merge-on-read")
    try body finally spark.conf.unset("spark.graft.rowlevel.mode")
  }

  test("every writer stages its new files flat under data/: driver-local and " +
       "distributed appends, replace, compact, upsert, COW UPDATE, MOR DELETE") {
    val (cat, c) = register()
    cat.createTable("m", "flat")
    val root = cat.tablePath("m", "flat")
    def onDisk(): Set[String] = {
      val s = Files.walk(root.resolve("data"))
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSet
      finally s.close()
    }
    val flat = "data/[^/]+\\.parquet".r
    def staged(writer: String)(body: => Any): Unit = {
      val before = onDisk()
      body
      val added = onDisk() -- before
      assert(added.nonEmpty, s"$writer staged no file")
      assert(added.forall(flat.matches), s"$writer: $added")
      val head = cat.latest("m", "flat").get
      val live = (cat.dataFileEntries("m", "flat", head) ++
        cat.deleteFileEntries("m", "flat", head)).map(_._1)
      assert(live.forall(flat.matches), s"$writer: $live")
    }
    staged("driver-local append") {
      cat.commitAppend("m", "flat", Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    }
    staged("distributed append") {
      cat.commitAppend("m", "flat",
        (3L to 40L).map(i => (i, s"s$i")).toDF("id", "s").repartition(3))
    }
    staged("replace") {
      cat.commitReplace("m", "flat", cat.read("m", "flat").repartition(2))
    }
    staged("compact") { cat.compact("m", "flat", targetFileBytes = 256L * 1024 * 1024) }
    staged("upsert") {
      cat.commitUpsert("m", "flat", Seq((2L, "B"), (41L, "n")).toDF("id", "s"), Seq("id"))
    }
    staged("COW UPDATE") { spark.sql(s"UPDATE $c.m.flat SET s = 'u' WHERE id = 3") }
    staged("MOR DELETE") { inMorMode { spark.sql(s"DELETE FROM $c.m.flat WHERE id = 4") } }
    assert(spark.sql(s"SELECT count(*) FROM $c.m.flat").head().getLong(0) === 40L)
    val dirs = Files.list(root.resolve("data"))
    try assert(!dirs.iterator().asScala.exists(Files.isDirectory(_)), "no subdirectory")
    finally dirs.close()
  }

  test("merge-on-read mode: UPDATE appends a delta (new data + position " +
       "deletes) without rewriting any data file") {
    val (cat, c) = register()
    cat.createTable("m", "du")
    cat.commitAppend("m", "du",
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "v").coalesce(1))
    cat.commitAppend("m", "du",
      Seq((11L, 110.0), (12L, 120.0)).toDF("id", "v").coalesce(1))
    val before = cat.latest("m", "du").get
    val filesBefore = cat.dataFiles("m", "du", before).toSet

    inMorMode { spark.sql(s"UPDATE $c.m.du SET v = v * 2 WHERE id = 2") }

    val after = cat.latest("m", "du").get
    assert(after.seq === before.seq + 1)
    // EVERY original data file survives untouched; the delta appended
    // one small data file and one position-delete file
    val filesAfter = cat.dataFiles("m", "du", after).toSet
    assert(filesBefore.subsetOf(filesAfter),
      s"MoR must not rewrite data files: $filesBefore vs $filesAfter")
    assert((filesAfter -- filesBefore).size === 1, "one delta data file")
    assert(cat.deleteFileEntries("m", "du", after).size === 1 &&
      cat.deleteFileEntries("m", "du", before).isEmpty,
      "one position-delete file appended")
    assert(spark.sql(s"SELECT id, v FROM $c.m.du ORDER BY id")
      .as[(Long, Double)].collect().toSeq ===
      Seq((1L, 10.0), (2L, 40.0), (3L, 30.0), (11L, 110.0), (12L, 120.0)))
    // time travel: the pre-update row is one version away
    assert(spark.sql(s"SELECT v FROM $c.m.du VERSION AS OF ${before.seq} WHERE id = 2")
      .head().getDouble(0) === 20.0)
    // compact() folds the delta back to a clean table
    cat.compact("m", "du", targetFileBytes = 256L * 1024 * 1024)
    assert(cat.deleteFileEntries("m", "du", cat.latest("m", "du").get).isEmpty)
    assert(spark.sql(s"SELECT sum(v) FROM $c.m.du").head().getDouble(0) === 310.0)
  }

  test("merge-on-read mode: DELETE writes only position deletes; MERGE " +
       "splits into delete+insert units; interop round-trips the result") {
    val (cat, c) = register()
    cat.createTable("m", "dm")
    cat.commitAppend("m", "dm",
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s").coalesce(1))
    val v0Files = cat.dataFiles("m", "dm", cat.latest("m", "dm").get).toSet

    // subquery DELETE → pure position-delete commit (no data file at all)
    Seq(3L).toDF("k").createOrReplaceTempView("dm_del")
    inMorMode {
      spark.sql(s"DELETE FROM $c.m.dm WHERE id IN (SELECT k FROM dm_del)")
    }
    val v1 = cat.latest("m", "dm").get
    assert(cat.dataFiles("m", "dm", v1).toSet === v0Files, "no data file added")
    assert(cat.deleteFileEntries("m", "dm", v1).size === 1)
    assert(spark.sql(s"SELECT id FROM $c.m.dm ORDER BY id")
      .as[Long].collect().toSeq === Seq(1L, 2L, 4L))

    // MERGE: matched update (delete+insert) + not-matched insert
    Seq((2L, "B"), (9L, "I")).toDF("id", "s").createOrReplaceTempView("dm_src")
    inMorMode {
      spark.sql(
        s"""MERGE INTO $c.m.dm t USING dm_src s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET s = s.s
           |WHEN NOT MATCHED THEN INSERT (id, s) VALUES (s.id, s.s)
           |""".stripMargin)
    }
    val v2 = cat.latest("m", "dm").get
    assert(v0Files.subsetOf(cat.dataFiles("m", "dm", v2).toSet),
      "original files still never rewritten")
    assert(spark.sql(s"SELECT id, s FROM $c.m.dm ORDER BY id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "B"), (4L, "d"), (9L, "I")))

    // the delta history is a FIRST-CLASS MoR table: position deletes
    // export/import through the Iceberg v2 surface like native ones
    val dest = Files.createTempDirectory("rlo-mor-export").toString
    graft.catalog.IcebergExport.exportTable(cat, "m", "dm", dest): Unit
    val back = graft.catalog.IcebergExport.readExported(spark, dest)
    assert(back.orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "B"), (4L, "d"), (9L, "I")))
  }

  test("merge-on-read mode: a stale planned head aborts the delta commit " +
       "loudly (commitDeltaFiles contract)") {
    val (cat, _) = register()
    cat.createTable("m", "dr")
    cat.commitAppend("m", "dr", Seq((1L, "a")).toDF("id", "s").coalesce(1))
    val head = cat.latest("m", "dr").get
    val f = cat.dataFiles("m", "dr", head).head
    cat.commitAppend("m", "dr", Seq((2L, "b")).toDF("id", "s"))
    intercept[java.util.ConcurrentModificationException] {
      cat.commitDeltaFiles("m", "dr", head.commitId, Seq.empty, Map.empty,
        Seq.empty, Set(f))
    }
    // and referencing a dead file aborts even with the right head
    val cur = cat.latest("m", "dr").get
    intercept[IllegalArgumentException] {
      cat.commitDeltaFiles("m", "dr", cur.commitId, Seq.empty, Map.empty,
        Seq.empty, Set("data/nope/gone.parquet"))
    }
  }

  test("a concurrent commit between scan planning and publish aborts the " +
       "statement loudly (no lost update), and a retry succeeds") {
    val (cat, _) = register()
    cat.createTable("m", "race")
    cat.commitAppend("m", "race", Seq((1L, "a")).toDF("id", "s"))
    val head = cat.latest("m", "race").get
    // simulate: a row-level commit planned against `head`, but another
    // writer lands first
    cat.commitAppend("m", "race", Seq((2L, "b")).toDF("id", "s"))
    val e = intercept[java.util.ConcurrentModificationException] {
      cat.commitRewriteFiles("m", "race", head.commitId,
        cat.dataFiles("m", "race", head).toSet, Seq.empty)
    }
    assert(e.getMessage.contains("re-run"))
    // with the CURRENT head it works
    val cur = cat.latest("m", "race").get
    val snap = cat.commitRewriteFiles("m", "race", cur.commitId,
      cat.dataFiles("m", "race", cur).toSet, Seq.empty)
    assert(snap.seq === cur.seq + 1)
    assert(cat.read("m", "race").count() === 0L)
  }
}

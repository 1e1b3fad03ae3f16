package graft

import java.nio.file.{Files, Path}
import java.util.UUID
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

import graft.catalog.GraftCatalog

/** The commit contract, table-driven over every public commit flavor
  * that takes a commit id or a condition: a replayed commit id throws
  * DuplicateCommitException and changes nothing; a lost condition throws
  * and leaves no file behind; every version's file and byte counts are
  * the sums over its manifests' entries; a caller's commit id with a
  * reserved maintenance prefix is refused. A failed staging leaves no
  * file that no version references. */
class CommitContractSpec extends SparkSpec {
  import spark.implicits._

  private val ns = "cc"

  /** A table of two appended versions (ids 1..4, one file each). */
  private def fixture(t: String): GraftCatalog = {
    val cat = new GraftCatalog(spark, Files.createTempDirectory("graft-cc").toString)
    cat.createTable(ns, t)
    cat.commitAppend(ns, t, Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1))
    cat.commitAppend(ns, t, Seq((3L, "c"), (4L, "d")).toDF("id", "v").coalesce(1))
    cat
  }

  private def files(root: Path): Set[String] =
    if (!Files.isDirectory(root)) Set.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toSet
      finally s.close()
    }

  private def tree(cat: GraftCatalog, t: String): Set[String] = files(cat.tablePath(ns, t))

  /** Data and manifest files of the table that no version of main or
    * of any branch references. */
  private def unreferenced(cat: GraftCatalog, t: String): Set[String] = {
    val snaps = cat.snapshots(ns, t) ++
      cat.listBranches(ns, t).flatMap(cat.branchSnapshots(ns, t, _))
    val referenced = snaps.flatMap(s => s.manifests ++
      (cat.dataFileEntries(ns, t, s) ++ cat.deleteFileEntries(ns, t, s)).map(_._1)).toSet
    tree(cat, t).filter(f => f.endsWith(".parquet") || f.endsWith(".jsonl"))
      .filterNot(referenced)
  }

  /** (c): fileCount and totalBytes of every version are the count and
    * the size sum over its manifests' entries. */
  private def assertCounts(cat: GraftCatalog, t: String): Unit = {
    val snaps = cat.snapshots(ns, t) ++
      cat.listBranches(ns, t).flatMap(cat.branchSnapshots(ns, t, _))
    snaps.foreach { s =>
      val es = cat.dataFileEntries(ns, t, s) ++ cat.deleteFileEntries(ns, t, s)
      assert(s.fileCount === es.size.toLong, s"v${s.seq} (${s.commitId}) fileCount")
      assert(s.totalBytes === es.map(_._2).sum, s"v${s.seq} (${s.commitId}) totalBytes")
    }
  }

  /** A parquet file of `df` landed under the table dir by the caller. */
  private def land(cat: GraftCatalog, t: String, df: DataFrame): String = {
    val out = Files.createTempDirectory("graft-cc-land").resolve("o")
    df.coalesce(1).write.parquet(out.toString)
    val part = files(out).find(_.endsWith(".parquet")).get
    val rel = s"data/landed-${UUID.randomUUID().toString.take(8)}/f.parquet"
    val dst = cat.tablePath(ns, t).resolve(rel)
    Files.createDirectories(dst.getParent)
    Files.copy(out.resolve(part), dst)
    rel
  }

  private def rows(lo: Long) = Seq((lo, s"r$lo"), (lo + 1, s"r${lo + 1}")).toDF("id", "v")

  /** A flavor: given a fixture table, land or plan its input and return
    * the commit to run under a caller commit id. */
  private case class Flavor(name: String, prep: (GraftCatalog, String) => Option[String] => Any)

  private def headOf(cat: GraftCatalog, t: String) = cat.latest(ns, t).get

  private val withCommitId: Seq[Flavor] = Seq(
    Flavor("commitAppend", (cat, t) => id => cat.commitAppend(ns, t, rows(10), commitId = id)),
    Flavor("commitDelete", (cat, t) => id => cat.commitDelete(ns, t, Seq(1L).toDF("id"), commitId = id)),
    Flavor("commitDeletePositions", (cat, t) => {
      val f = cat.dataFiles(ns, t, headOf(cat, t)).head
      id => cat.commitDeletePositions(ns, t, Seq((f, 0L)).toDF("file_path", "pos"), commitId = id)
    }),
    Flavor("commitUpsert", (cat, t) => id => cat.commitUpsert(ns, t, rows(2), Seq("id"), commitId = id)),
    Flavor("commitCdcApply", (cat, t) => id =>
      cat.commitCdcApply(ns, t, rows(3), Seq(1L).toDF("id"), Seq("id"), commitId = id)),
    Flavor("commitFiles", (cat, t) => {
      val f = land(cat, t, rows(20))
      id => cat.commitFiles(ns, t, Seq(f), "eu", commitId = id)
    }),
    Flavor("commitLandedFiles", (cat, t) => {
      val f = land(cat, t, rows(30))
      id => cat.commitLandedFiles(ns, t, Seq(f), "rest", commitId = id)
    }),
    Flavor("commitLandedMoR", (cat, t) => {
      val f = land(cat, t, rows(40))
      val d = land(cat, t, Seq(2L).toDF("id"))
      id => cat.commitLandedMoR(ns, t, Seq(f), Seq(d), None, "rest", commitId = id)
    }),
    Flavor("commitFilesReplace", (cat, t) => {
      val f = land(cat, t, rows(50))
      id => cat.commitFilesReplace(ns, t, Seq(f), "import", commitId = id)
    }),
    Flavor("commitFilesMor", (cat, t) => {
      val f = land(cat, t, rows(60))
      id => cat.commitFilesMor(ns, t, Seq(Seq(f) -> GraftCatalog.UnitData), "import",
        commitId = id)
    }),
    Flavor("commitFilesReplaceMor", (cat, t) => {
      val f = land(cat, t, rows(70))
      id => cat.commitFilesReplaceMor(ns, t, Seq(Seq(f) -> GraftCatalog.UnitData), "import",
        commitId = id)
    }),
    Flavor("commitRewriteFiles", (cat, t) => {
      val h = headOf(cat, t)
      val gone = cat.dataFiles(ns, t, h).head
      val f = land(cat, t, rows(80))
      id => cat.commitRewriteFiles(ns, t, h.commitId, Set(gone),
        Seq(f -> Files.size(cat.tablePath(ns, t).resolve(f))), commitId = id)
    }),
    Flavor("commitDeltaFiles", (cat, t) => {
      val h = headOf(cat, t)
      val target = cat.dataFiles(ns, t, h).head
      val f = land(cat, t, rows(90))
      val p = land(cat, t, Seq((target, 1L)).toDF("file_path", "pos"))
      val sized = (r: String) => r -> Files.size(cat.tablePath(ns, t).resolve(r))
      id => cat.commitDeltaFiles(ns, t, h.commitId, Seq(sized(f)), Map.empty,
        Seq(sized(p)), Set(target), commitId = id)
    }))

  withCommitId.foreach { fl =>
    test(s"${fl.name}: a replayed commit id throws DuplicateCommitException and " +
         "changes nothing; a reserved maintenance prefix is refused") {
      val t = "t"
      val cat = fixture(t)
      fl.prep(cat, t)(Some(s"cid-$t"))
      assertCounts(cat, t)
      // (a) the replay, planned afresh against the new head
      val replay = fl.prep(cat, t)
      val head = headOf(cat, t)
      val before = tree(cat, t)
      val e = intercept[GraftCatalog.DuplicateCommitException](replay(Some(s"cid-$t")))
      assert(e.seq === head.seq)
      assert(headOf(cat, t) === head)
      assert(tree(cat, t) === before)
      // (d) a caller commit id may not claim a maintenance prefix
      GraftCatalog.MaintenancePrefixes.foreach { prefix =>
        val spoof = fl.prep(cat, t)
        val tr = tree(cat, t)
        val e2 = intercept[IllegalArgumentException](spoof(Some(s"${prefix}evil")))
        assert(e2.getMessage.contains("reserved"), e2.getMessage)
        assert(headOf(cat, t) === head)
        assert(tree(cat, t) === tr)
      }
      assertCounts(cat, t)
    }
  }

  /** A conditional flavor: plan against the head, then `race` moves the
    * table on before the commit runs. */
  private case class Conditional(name: String, prep: (GraftCatalog, String) => () => Any,
                                 race: (GraftCatalog, String) => Unit =
                                   (c, t) => { c.commitAppend(ns, t, rows(100)); () })

  private val conditionals: Seq[Conditional] = Seq(
    Conditional("commitReplace expectedParentSeq", (cat, t) => {
      val seq = headOf(cat, t).seq
      () => cat.commitReplace(ns, t, rows(1), expectedParentSeq = Some(seq))
    }),
    // a rebased replace survives appends; it loses when its base's
    // manifests are rewritten
    Conditional("commitReplace rebaseOn", (cat, t) => {
      val seq = headOf(cat, t).seq
      () => cat.commitReplace(ns, t, rows(1), rebaseOn = Some(seq))
    }, (cat, t) => { cat.commitReplace(ns, t, rows(200)); () }),
    Conditional("commitLandedFiles expectedParentSeq", (cat, t) => {
      val seq = headOf(cat, t).seq
      val f = land(cat, t, rows(30))
      () => cat.commitLandedFiles(ns, t, Seq(f), "rest", expectedParentSeq = Some(seq))
    }),
    Conditional("commitLandedMoR expectedParentSeq", (cat, t) => {
      val h = headOf(cat, t)
      val target = cat.dataFiles(ns, t, h).head
      val f = land(cat, t, rows(40))
      () => cat.commitLandedMoR(ns, t, Seq(f), Seq.empty,
        Some(Seq((target, 0L)).toDF("file_path", "pos")), "rest",
        expectedParentSeq = Some(h.seq))
    }),
    Conditional("commitProperties expectedParentSeq", (cat, t) => {
      val seq = headOf(cat, t).seq
      () => cat.commitProperties(ns, t, Map("k" -> "v"), expectedParentSeq = Some(seq))
    }),
    Conditional("commitRewriteFiles expectedHeadCommitId", (cat, t) => {
      val h = headOf(cat, t)
      val gone = cat.dataFiles(ns, t, h).head
      val f = land(cat, t, rows(80))
      () => cat.commitRewriteFiles(ns, t, h.commitId, Set(gone),
        Seq(f -> Files.size(cat.tablePath(ns, t).resolve(f))))
    }),
    Conditional("commitDeltaFiles expectedHeadCommitId", (cat, t) => {
      val h = headOf(cat, t)
      val target = cat.dataFiles(ns, t, h).head
      val f = land(cat, t, rows(90))
      () => cat.commitDeltaFiles(ns, t, h.commitId,
        Seq(f -> Files.size(cat.tablePath(ns, t).resolve(f))), Map.empty, Seq.empty,
        Set(target))
    }),
    Conditional("fastForwardMerge moved fork", (cat, t) => {
      cat.createBranch(ns, t, "dev")
      cat.commitAppendToBranch(ns, t, "dev", rows(300))
      () => cat.fastForwardMerge(ns, t, "dev")
    }))

  conditionals.foreach { c =>
    test(s"${c.name}: a lost condition throws and leaves no file behind") {
      val t = "t"
      val cat = fixture(t)
      val run = c.prep(cat, t)
      c.race(cat, t)
      val head = headOf(cat, t)
      val before = tree(cat, t)
      val e = intercept[RuntimeException](run())
      assert(e.isInstanceOf[java.util.ConcurrentModificationException] ||
        e.isInstanceOf[GraftCatalog.MergeConflictException], e.toString)
      assert(headOf(cat, t) === head)
      assert(tree(cat, t) === before)
      assertCounts(cat, t)
    }
  }

  test("a failed staging leaves no file that no version references: upsert and " +
       "CDC apply whose rows fail after their delete keys staged") {
    val t = "leak"
    val cat = fixture(t)
    // the keys' staging prunes `v`, so it stages cleanly; the rows' fails
    val boom = udf((s: String) => {
      if (s != null) throw new RuntimeException(s"boom $s")
      s
    })
    val bad = rows(1).withColumn("v", boom(col("v")))
    val data = cat.tablePath(ns, t).resolve("data")
    val committed = files(data)
    intercept[Exception](cat.commitUpsert(ns, t, bad, Seq("id")))
    assert(unreferenced(cat, t) === Set.empty)
    intercept[Exception](cat.commitCdcApply(ns, t, bad, Seq(9L).toDF("id"), Seq("id")))
    assert(unreferenced(cat, t) === Set.empty)
    assert(cat.snapshots(ns, t).size === 2)
    // the cleanup removed only the failed commits' own files from data/
    assert(Files.isDirectory(data) && files(data) === committed)
  }

  test("a staging job that fails after some of its tasks landed files removes only " +
       "its own op-id's files from data/: every other commit's files stay") {
    val t = "part"
    val cat = fixture(t)
    val data = cat.tablePath(ns, t).resolve("data")
    val committed = files(data)
    assert(committed.filter(_.endsWith(".parquet")).size === 2)
    // the other three tasks land their files before this one fails
    val late = udf((s: String) => {
      if (s == "r7") { Thread.sleep(500); throw new RuntimeException("boom") }
      s
    })
    val rows40 = (1L to 40L).map(i => (i, s"r$i")).toDF("id", "v").repartition(4)
    intercept[Exception](cat.commitAppend(ns, t, rows40.withColumn("v", late(col("v")))))
    assert(unreferenced(cat, t) === Set.empty)
    assert(Files.isDirectory(data) && files(data) === committed)
    assert(cat.read(ns, t).count() === 4L)
  }
}

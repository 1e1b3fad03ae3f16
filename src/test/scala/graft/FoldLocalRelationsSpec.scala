package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

import graft.catalog.GraftCatalog

/** graft.plans.FoldLocalRelations: a count, a positional union and an
  * equi-key anti/semi join over driver-local relations and small table
  * scans evaluate on the driver, and every query returns exactly the
  * rows (or the error) it returns with the rule excluded. */
class FoldLocalRelationsSpec extends SparkSpec {
  import spark.implicits._

  private val ExcludedRules = "spark.sql.optimizer.excludedRules"

  /** Rows of `q` (sorted by their string form), asserted equal to the
    * rows of the same query with the rule excluded; and whether the
    * rule's run folded the whole plan into one local relation. */
  private def parity(q: => DataFrame): (Seq[String], Boolean) = {
    val df = q
    val got = df.collect().map(_.toString).toSeq.sorted
    spark.conf.set(ExcludedRules, "graft.plans.FoldLocalRelations")
    val unfolded =
      try q.collect().map(_.toString).toSeq.sorted
      finally spark.conf.unset(ExcludedRules)
    assert(got === unfolded)
    got -> df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]
  }

  test("count, union and a string-keyed anti-join over local frames run no Spark job") {
    val listed = Seq(("a", 1L), ("b", 2L), ("_tmp/c", 3L)).toDF("path", "size_bytes")
    val reachable = Seq(("a", 1L)).toDF("path", "size_bytes")
    val (n, jobs) = withJobs {
      listed.join(reachable.select("path"), Seq("path"), "left_anti")
        .withColumn("tmp", $"path".startsWith("_tmp/"))
        .count()
    }
    assert(n === 2L)
    assert(jobs.isEmpty, s"a driver-local plan ran jobs: $jobs")
    val (u, unionJobs) = withJobs(listed.union(reachable).filter($"size_bytes" > 1).collect())
    assert(u.map(_.getString(0)).sorted === Array("_tmp/c", "b"))
    assert(unionJobs.isEmpty, s"a local union ran jobs: $unionJobs")
    val (c, countJobs) = withJobs(listed.filter($"size_bytes" > 1).count())
    assert(c === 2L)
    assert(countJobs.isEmpty, s"a local count ran jobs: $countJobs")
  }

  test("folded count and union match the unfolded plan; grouped counts stay unfolded") {
    val a = Seq((1L, "x"), (2L, "y"), (2L, "y")).toDF("k", "v")
    val b = Seq((3L, "z")).toDF("k", "v")
    assert(parity(a.groupBy().count()) === (Seq("[3]"), true))
    assert(parity(a.filter($"k" > 5).groupBy().count()) === (Seq("[0]"), true))
    assert(parity(a.union(b).union(a)) ===
      (Seq("[1,x]", "[1,x]", "[2,y]", "[2,y]", "[2,y]", "[2,y]", "[3,z]"), true))
    assert(parity(b.unionByName(a.select("v", "k"))) ===
      (Seq("[1,x]", "[2,y]", "[2,y]", "[3,z]"), true))
    val (rows, folded) = parity(a.groupBy("k").count())
    assert(rows === Seq("[1,1]", "[2,2]"))
    assert(!folded, "only a global count folds")
  }

  test("anti and semi joins: null keys never match, duplicate keys, two-column keys") {
    val l = Seq((Some("a"), 1), (None, 2), (Some("b"), 3), (Some("b"), 4), (Some("c"), 5))
      .toDF("k", "v")
    val r = Seq(Some("b"), Some("b"), None, Some("d")).toDF("k")
    assert(parity(l.join(r, Seq("k"), "left_anti")) === (Seq("[a,1]", "[c,5]", "[null,2]"), true))
    assert(parity(l.join(r, Seq("k"), "left_semi")) === (Seq("[b,3]", "[b,4]"), true))
    // null-safe equality: null matches null
    assert(parity(l.join(r, l("k") <=> r("k"), "left_anti")) === (Seq("[a,1]", "[c,5]"), true))

    val l2 = Seq((1L, "x", 10), (1L, "y", 11), (2L, "x", 12), (2L, null, 13)).toDF("a", "b", "v")
    val r2 = Seq((1L, "x"), (2L, "y"), (2L, null)).toDF("a", "b")
    assert(parity(l2.join(r2, Seq("a", "b"), "left_anti")) ===
      (Seq("[1,y,11]", "[2,null,13]", "[2,x,12]"), true))
    assert(parity(l2.join(r2, Seq("a", "b"), "left_semi")) === (Seq("[1,x,10]"), true))
  }

  test("long, decimal, date and timestamp keys fold with binary equality") {
    val d = Date.valueOf("2024-02-29")
    val t = Timestamp.valueOf("2024-02-29 12:34:56.789")
    val l = Seq(
      (1L, BigDecimal("1.50"), d, t),
      (2L, BigDecimal("2.25"), Date.valueOf("2024-03-01"), Timestamp.valueOf("2024-03-01 00:00:00")),
      (3L, BigDecimal("-7"), d, Timestamp.valueOf("1969-12-31 23:59:59.999999")))
      .toDF("n", "dec", "day", "ts")
    val r = Seq((1L, BigDecimal("1.5"), d, t), (9L, BigDecimal("-7.000"), d, t))
      .toDF("n", "dec", "day", "ts")
    Seq("n" -> Seq(1L), "dec" -> Seq(1L, 3L), "day" -> Seq(1L, 3L), "ts" -> Seq(1L)).foreach {
      case (c, semi) =>
        val (rows, folded) = parity(l.join(r.select(c), Seq(c), "left_semi").select("n"))
        assert(rows === semi.map(n => s"[$n]"), c)
        assert(folded, s"$c keys must fold")
        val (anti, antiFolded) = parity(l.join(r.select(c), Seq(c), "left_anti").select("n"))
        assert(anti === Seq(1L, 2L, 3L).filterNot(semi.contains).map(n => s"[$n]"), c)
        assert(antiFolded, s"$c keys must fold")
    }
  }

  test("double keys, a residual condition and NOT IN stay unfolded and agree") {
    val l = Seq((0.0, 1), (-0.0, 2), (Double.NaN, 3), (1.5, 4)).toDF("x", "v")
    val r = Seq((-0.0, 0), (Double.NaN, 0)).toDF("x", "w")
    val (dbl, dblFolded) = parity(l.join(r.select("x"), Seq("x"), "left_anti"))
    assert(dbl === Seq("[1.5,4]"), "0.0 = -0.0 and NaN = NaN in Spark's join semantics")
    assert(!dblFolded)

    val a = Seq(("k", 1), ("k", 5), ("j", 1)).toDF("k", "v")
    val b = Seq(("k", 3)).toDF("k", "w")
    val (res, resFolded) = parity(a.join(b, a("k") === b("k") && a("v") > b("w"), "left_anti"))
    assert(res === Seq("[j,1]", "[k,1]"))
    assert(!resFolded, "a residual condition stays unfolded")

    Seq((Some(1L), "p"), (Some(2L), "q"), (None, "r")).toDF("k", "v").createOrReplaceTempView("fold_l")
    Seq(Some(2L)).toDF("k").createOrReplaceTempView("fold_r")
    Seq(Some(2L), None).toDF("k").createOrReplaceTempView("fold_rn")
    try {
      val (notIn, notInFolded) =
        parity(spark.sql("SELECT v FROM fold_l WHERE k NOT IN (SELECT k FROM fold_r)"))
      assert(notIn === Seq("[p]"), "NOT IN drops the row whose key is null")
      assert(!notInFolded)
      val (withNull, _) =
        parity(spark.sql("SELECT v FROM fold_l WHERE k NOT IN (SELECT k FROM fold_rn)"))
      assert(withNull.isEmpty, "a null in the NOT IN list keeps no row")
    } finally Seq("fold_l", "fold_r", "fold_rn").foreach(spark.catalog.dropTempView)
  }

  private def unfolded[T](body: => T): T = {
    spark.conf.set(ExcludedRules, "graft.plans.FoldLocalRelations")
    try body finally spark.conf.unset(ExcludedRules)
  }

  private def freshCatalog(): GraftCatalog =
    new GraftCatalog(spark, Files.createTempDirectory("graft-fold").toString)

  /** A table of two appends, 150 rows in all. */
  private def smallTable(): GraftCatalog = {
    val cat = freshCatalog()
    cat.createTable("ns", "t")
    cat.commitAppend("ns", "t", (1L to 100L).toDF("id"))
    cat.commitAppend("ns", "t", (101L to 150L).toDF("id"))
    cat
  }

  private def firstFile(cat: GraftCatalog) =
    cat.tablePath("ns", "t").resolve(cat.dataFiles("ns", "t", cat.latest("ns", "t").get).head)

  test("a count over a small table's read runs no job and reads every file: a truncated " +
       "or a missing file fails it with the distributed count's error") {
    val cat = smallTable()
    val (n, jobs) = withJobs(cat.read("ns", "t").count())
    assert(n === 150L)
    assert(jobs.isEmpty, s"a small table's count ran jobs: $jobs")
    val f = firstFile(cat)
    val bytes = Files.readAllBytes(f)
    def sameFailure(): Unit = {
      val folded = intercept[org.apache.spark.SparkException](cat.read("ns", "t").count())
      val distributed =
        unfolded(intercept[org.apache.spark.SparkException](cat.read("ns", "t").count()))
      assert(folded.getCondition === distributed.getCondition)
      assert(folded.getMessage === distributed.getMessage)
      assert(folded.getMessage.contains(f.getFileName.toString), folded.getMessage)
    }
    Files.write(f, bytes.take(bytes.length / 2))
    sameFailure()
    Files.delete(f)
    sameFailure()
  }

  test("counts over unions and anti/semi joins of small table scans fold and equal the " +
       "distributed counts; the unions and joins themselves keep their scans") {
    val cat = smallTable()
    cat.createTable("ns", "keys")
    cat.commitAppend("ns", "keys", Seq(5L, 50L, 120L, 500L).toDF("id"))
    val t = cat.read("ns", "t")
    val k = cat.read("ns", "keys")
    Seq(
      "union" -> t.union(k),
      "anti join" -> t.join(k, Seq("id"), "left_anti"),
      "semi join" -> t.join(k, Seq("id"), "left_semi"),
      "filtered anti join under a union" -> t.filter($"id" % 2 === 0)
        .join(k, Seq("id"), "left_anti").union(k.select(($"id" + 1).as("id")))
    ).foreach { case (what, df) =>
      val c = df.groupBy().count()
      assert(c.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], s"the $what count")
      val (n, jobs) = withJobs(c.collect().head.getLong(0))
      assert(jobs.isEmpty, s"the $what count ran jobs: $jobs")
      assert(n === unfolded(df.count()), what)
      assert(!df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation], s"the $what folded")
      assert(df.inputFiles.nonEmpty, s"the $what lost its input files")
    }
  }

  test("with ignoreCorruptFiles or ignoreMissingFiles set the count stands aside and " +
       "gives the distributed count's answer") {
    val cat = smallTable()
    val f = firstFile(cat)
    val bytes = Files.readAllBytes(f)
    Files.write(f, bytes.take(bytes.length / 2))
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
    Seq("spark.sql.files.ignoreCorruptFiles" -> "corrupt",
        "spark.sql.files.ignoreMissingFiles" -> "missing").foreach { case (key, what) =>
      if (what == "missing") Files.delete(f)
      spark.conf.set(key, "true")
      try {
        val df = cat.read("ns", "t").groupBy().count()
        assert(!df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          s"a count ignoring $what files folded")
        val n = df.collect().head.getLong(0)
        assert(n === unfolded(cat.read("ns", "t").count()))
        assert(n < 150L, s"the $what file was counted")
      } finally spark.conf.unset(key)
    }
  }

  test("a folded count sees the version its frame was built on: a fresh read after a " +
       "commit or an expiry counts the new head, an older frame its own version") {
    val cat = smallTable()
    val before = cat.read("ns", "t")
    cat.commitAppend("ns", "t", (151L to 160L).toDF("id"))
    val afterCommit = cat.read("ns", "t")
    cat.expireSnapshots("ns", "t", retainLast = 1)
    cat.commitAppend("ns", "t", (161L to 165L).toDF("id"))
    cat.expireSnapshots("ns", "t", retainLast = 1)
    val (counts, jobs) = withJobs(
      (before.count(), afterCommit.count(), cat.read("ns", "t").count()))
    assert(counts === ((150L, 160L, 165L)))
    assert(jobs.isEmpty, s"folded counts ran jobs: $jobs")
  }

  /** The row counts of a Parquet file's row groups, from its footer. */
  private def rowGroups(f: java.nio.file.Path): Seq[Long] = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
    try reader.getRowGroups.asScala.map(_.getRowCount).toSeq finally reader.close()
  }

  private def foldedCount(cat: GraftCatalog, name: String): Long = {
    val (n, jobs) = withJobs(cat.read("ns", name).count())
    assert(jobs.isEmpty, s"the count of $name ran jobs: $jobs")
    assert(n === unfolded(cat.read("ns", name).count()), s"the count of $name")
    n
  }

  test("a folded count reads footers: a zero-row file counts 0 and a landed file of " +
       "several row groups counts them all, as the distributed count does") {
    val cat = freshCatalog()
    cat.createTable("ns", "e")
    cat.commitAppend("ns", "e", Seq.empty[Long].toDF("id"))
    val Seq(empty) = cat.dataFiles("ns", "e", cat.latest("ns", "e").get)
    assert(rowGroups(cat.tablePath("ns", "e").resolve(empty)) === Nil)
    assert(foldedCount(cat, "e") === 0L)
    cat.commitAppend("ns", "e", Seq(1L, 2L, 3L).toDF("id"))
    assert(foldedCount(cat, "e") === 3L)

    val out = Files.createTempDirectory("graft-fold-groups").resolve("out")
    spark.range(0, 3000, 1, 1).selectExpr("id", "uuid() AS s")
      .write.option("parquet.block.size", "16384").parquet(out.toString)
    val part = {
      val listed = Files.list(out)
      try listed.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally listed.close()
    }
    assert(part.size === 1)
    cat.createTable("ns", "landed")
    // a first append records the schema the landed file is read under
    cat.commitAppend("ns", "landed", Seq((-1L, "first")).toDF("id", "s"))
    val rel = "data/landed-0.parquet"
    Files.copy(part.head, cat.tablePath("ns", "landed").resolve(rel))
    cat.commitLandedFiles("ns", "landed", Seq(rel), "local")
    val groups = rowGroups(cat.tablePath("ns", "landed").resolve(rel))
    assert(groups.size > 1, s"one row group: $groups")
    assert(foldedCount(cat, "landed") === 3001L)
  }

  test("the driver reader's shared conf: localRows from 4 threads at once return the " +
       "rows of sequential reads") {
    val cat = freshCatalog()
    cat.createTable("ns", "c")
    (0 until 8).foreach { i =>
      cat.commitAppend("ns", "c",
        (i * 50L until (i + 1) * 50L).map(n => (n, s"v$n", n * 0.5)).toDF("id", "s", "x"))
    }
    val head = cat.latest("ns", "c").get
    def read(): Seq[String] =
      cat.localRows("ns", "c", head, head.manifests).map(_.toString).sorted
    val sequential = read()
    assert(sequential.size === 400)
    assert(read() === sequential)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val reads = (1 to 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Seq[Seq[String]]] {
          def call(): Seq[Seq[String]] = { start.await(); (1 to 5).map(_ => read()) }
        })
      }
      start.countDown()
      reads.flatMap(_.get(120, java.util.concurrent.TimeUnit.SECONDS)).foreach { got =>
        assert(got === sequential)
      }
    } finally pool.shutdownNow()
  }
}

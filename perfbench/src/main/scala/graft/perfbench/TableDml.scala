package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.collection.mutable

import graft.catalog.{GraftCatalog, GraftSparkCatalog}

/** table_dml: one sort-clustered GraftSparkCatalog table with one
  * GROUP BY materialized view. Closed loop, two client threads: a reader
  * (point SELECTs and range GROUP BYs over Zipf-skewed keys, a share of
  * them recently written) and a writer replaying the seeded op log
  * (INSERT, point UPDATE, MERGE, point DELETE), refreshing the view every
  * few writes and compacting less often. */
final class TableDml(run: Run, baseRows: Int) extends Workload {
  import run.{spark, tracer}

  val refreshEvery = 4
  val compactEvery = 12
  val baseInserts = 12
  val rangeSpan = 4000L
  val maxOps = 4000

  private val gen = new DmlGen(run.profile, run.seed, baseRows)
  private lazy val log: IndexedSeq[DmlOp] = gen.opLog(maxOps)
  private var basePath: String = _
  private var wh: Path = _
  private var cat: GraftCatalog = _
  private var c: String = _
  private def t = s"$c.dml.items"
  private def mv = s"$c.dml.by_grp"
  /** Writes applied so far, and the keys they made live most recently. */
  private val applied = new AtomicInteger(0)
  private val recent = new AtomicReference[Vector[Long]](Vector.empty)

  def clients = 2
  def opUnit = "SQL statement"
  def opsDone: Double = tracer.opList.count(o => o.phase == "timed" && o.ok &&
    Set("point", "range", "insert", "update", "merge", "delete", "refresh_mv", "compact")(o.kind))

  def inputs(): Unit = {
    basePath = Inputs.materialize(run.inputs, s"dml-base-$baseRows", gen.baseFrame(spark, run.cpus))
    log.size: Unit
  }

  def setup(rep: Int): Unit = {
    if (wh != null) Run.deleteTree(wh)
    wh = run.freshDir(s"dml-$rep")
    cat = new GraftCatalog(spark, wh.toString)
    c = GraftSparkCatalog.registerSqlCatalog(spark, wh.toString)
    spark.sql(s"CREATE TABLE $t (pk BIGINT, grp INT, price BIGINT, qty INT, flag STRING, ship DATE) " +
      "TBLPROPERTIES ('write.sort-columns' = 'pk')")
    // the base arrives in several INSERTs of contiguous key ranges, so it
    // spans many data files whose bounds prune point reads
    spark.read.parquet(basePath).createOrReplaceTempView("dml_base")
    val step = (baseRows + baseInserts - 1) / baseInserts
    (0 until baseInserts).foreach { i =>
      spark.sql(s"INSERT INTO $t SELECT * FROM dml_base WHERE pk >= ${i.toLong * step} AND pk < ${(i + 1L) * step}")
    }
    spark.sql(s"CREATE MATERIALIZED VIEW $mv AS " +
      s"SELECT grp, count(*) AS cnt, sum(price) AS total FROM $t GROUP BY grp")
    applied.set(0)
    recent.set(Vector.empty)
    // warm-up: each statement kind once, with no net effect on the state
    // the op log replays over
    val k = gen.hotKey(0.5)
    val base = gen.item(k)
    val extra = gen.item(baseRows.toLong + 1000000L)
    spark.sql(s"SELECT pk, price FROM $t WHERE pk = $k").collect()
    spark.sql(s"SELECT grp, count(*), sum(price) FROM $t WHERE pk BETWEEN 0 AND $rangeSpan GROUP BY grp")
      .collect()
    spark.sql(s"INSERT INTO $t VALUES ${lit(extra)}")
    spark.sql(s"UPDATE $t SET price = price + 0 WHERE pk = $k")
    spark.sql(sqlOf(Merge(Seq(base)))._2)
    spark.sql(s"DELETE FROM $t WHERE pk = ${extra.pk}")
    spark.sql(s"CALL $c.system.refresh_mv('dml', 'by_grp')").collect(): Unit
  }

  private def lit(it: Item) =
    s"(${it.pk}L, ${it.grp}, ${it.price}L, ${it.qty}, '${it.flag}', DATE '${it.ship}')"

  private def sqlOf(op: DmlOp): (String, String) = op match {
    case Insert(rows) => "insert" -> s"INSERT INTO $t VALUES ${rows.map(lit).mkString(", ")}"
    case Update(pk, d) => "update" -> s"UPDATE $t SET price = price + $d WHERE pk = $pk"
    case Merge(rows) => "merge" ->
      (s"MERGE INTO $t AS t USING (SELECT * FROM VALUES ${rows.map(lit).mkString(", ")} " +
        "AS s(pk, grp, price, qty, flag, ship)) AS s ON t.pk = s.pk " +
        "WHEN MATCHED THEN UPDATE SET t.price = s.price WHEN NOT MATCHED THEN INSERT *")
    case Delete(pk) => "delete" -> s"DELETE FROM $t WHERE pk = $pk"
  }

  private def written(op: DmlOp): Seq[Long] = op match {
    case Insert(rows) => rows.map(_.pk)
    case Merge(rows) => rows.map(_.pk)
    case Update(pk, _) => Seq(pk)
    case Delete(_) => Seq.empty
  }

  private def writer(live: => Boolean): Unit = {
    val cat = this.cat
    var i = 0
    while (live && i < log.size) {
      val op = log(i)
      val (kind, sql) = sqlOf(op)
      var before = Option.empty[cat.Snapshot]
      tracer.probe { before = cat.latest("dml", "items") }
      val ok = tracer.op(kind) {
        tracer.span("catalog", s"sql.$kind") { spark.sql(sql).collect() }
        tracer.probe {
          val after = tracer.span("catalog", "latest") { cat.latest("dml", "items") }
          for (b <- before; a <- after) {
            val af = cat.dataFiles("dml", "items", a).toSet
            val gone = cat.dataFileEntries("dml", "items", b).filterNot(e => af(e._1))
            run.add("catalog.files_rewritten", gone.size.toDouble)
            run.add("catalog.bytes_written", math.max(0L, a.totalBytes - b.totalBytes + gone.map(_._2).sum).toDouble)
          }
          run.add("catalog.user_bytes_written", Item.rowBytes.toDouble * (op match {
            case Insert(r) => r.size; case Merge(r) => r.size; case _ => 1 }))
        }
      }.isDefined
      if (!ok) return // the expected state is a prefix of the log: stop at a failure
      i += 1
      applied.set(i)
      op match {
        case Delete(pk) => recent.updateAndGet(_.filterNot(_ == pk))
        case _ => recent.updateAndGet(v => (v ++ written(op)).takeRight(200))
      }
      if (i % refreshEvery == 0 && live)
        tracer.op("refresh_mv") {
          tracer.span("catalog", "sql.refresh_mv") {
            spark.sql(s"CALL $c.system.refresh_mv('dml', 'by_grp')").collect()
          }
        }: Unit
      if (i % compactEvery == 0 && live)
        tracer.op("compact") {
          tracer.span("catalog", "sql.compact") {
            spark.sql(s"CALL $c.system.compact('dml', 'items', ${16L * 1024 * 1024}L)").collect()
          }
        }: Unit
    }
  }

  private def reader(live: => Boolean): Unit = {
    val rnd = new java.util.SplittableRandom(run.seed * 131 + 17)
    var n = 0
    while (live) {
      n += 1
      val key = {
        val rs = recent.get
        if (rs.nonEmpty && rnd.nextDouble() < gen.recentShare) rs(rnd.nextInt(rs.size))
        else gen.hotKey(rnd.nextDouble())
      }
      // a fixed pattern, like the writer's cycle: four points, then a range
      if (n % 5 != 0) {
        val q = s"SELECT pk, price FROM $t WHERE pk = $key"
        tracer.op("point") { tracer.span("catalog", "sql.point") { spark.sql(q).collect() } }
        tracer.probe {
          // SQL reads plan the same manifest-pruned file set as readWhere
          val files = cat.readWhere("dml", "items", "pk", Some(key.toString), Some(key.toString))
            .inputFiles.length
          val live = cat.latest("dml", "items").map(_.fileCount).getOrElse(1L)
          run.sample("catalog.files_read_per_point", files.toDouble / math.max(1L, live))
        }
      } else {
        val lo = math.max(0L, key - rangeSpan / 2)
        tracer.op("range") {
          tracer.span("catalog", "sql.range") {
            spark.sql(s"SELECT grp, count(*), sum(price) FROM $t " +
              s"WHERE pk BETWEEN $lo AND ${lo + rangeSpan} GROUP BY grp").collect()
          }
        }
      }
    }
  }

  def run(deadlineNs: Long): Unit = {
    def live = System.nanoTime() < deadlineNs
    Workload.clients("dml-writer" -> (() => writer(live)), "dml-reader" -> (() => reader(live)))
  }

  /** The expected (rows, sum(price)) after replaying the first `n` writes
    * of the log over the generated base. */
  private def expected(n: Int): (Long, Long) = {
    val changed = mutable.HashMap.empty[Long, Option[Long]] // pk -> live price
    def price(pk: Long): Option[Long] =
      changed.getOrElse(pk, if (pk < baseRows) Some(gen.item(pk).price) else None)
    var rows = baseRows.toLong
    var sum = spark.read.parquet(basePath).selectExpr("sum(price)").head().getLong(0)
    def put(pk: Long, p: Long): Unit = price(pk) match {
      case Some(old) => sum += p - old; changed(pk) = Some(p)
      case None => sum += p; rows += 1; changed(pk) = Some(p)
    }
    log.take(n).foreach {
      case Insert(rs) => rs.foreach(r => put(r.pk, r.price))
      case Merge(rs) => rs.foreach(r => put(r.pk, r.price))
      case Update(pk, d) => price(pk).foreach(p => put(pk, p + d))
      case Delete(pk) => price(pk).foreach { p => sum -= p; rows -= 1; changed(pk) = None }
    }
    (rows, sum)
  }

  def finish(): Unit = {
    val n = applied.get
    val (rows, sum) = expected(n)
    val got = spark.sql(s"SELECT count(*), sum(price) FROM $t").head()
    run.check("dml.rows", got.getLong(0) == rows, s"table has ${got.getLong(0)} rows, op log says $rows")
    run.check("dml.sum_price", got.getLong(1) == sum, s"table sum(price) ${got.getLong(1)}, op log says $sum")
    spark.sql(s"CALL $c.system.refresh_mv('dml', 'by_grp')").collect()
    val view = spark.sql(s"SELECT grp, cnt, total FROM $mv").collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val fresh = spark.sql(s"SELECT grp, count(*), sum(price) FROM $t GROUP BY grp")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    run.check("dml.mv_equals_group_by", view == fresh,
      s"view and GROUP BY differ in ${(view diff fresh).size + (fresh diff view).size} groups")
    run.check("dml.progress", n > 0, "the writer applied no op")
    val head = cat.latest("dml", "items").get
    val (disk, _) = Run.diskUsage(wh)
    val (meta, _) = Run.diskUsage(wh, _.toString.contains("/_meta/"))
    val userRows = baseRows.toLong + log.take(n).map {
      case Insert(r) => r.size; case Merge(r) => r.size; case _ => 0 }.sum
    run.set("user_bytes", userRows.toDouble * Item.rowBytes)
    run.set("disk_bytes", disk.toDouble)
    run.set("catalog.meta_bytes", meta.toDouble)
    run.set("catalog.live_files", head.fileCount.toDouble)
    run.set("catalog.versions", cat.snapshots("dml", "items").size.toDouble)
    run.set("dml.writes_applied", n.toDouble)
  }
}

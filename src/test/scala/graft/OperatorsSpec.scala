package graft

import graft.operators._
import org.apache.spark.sql.functions._

/** Semantics of the control-plane operators against hand-computed
  * fixtures, including scenarios ported from the reference's test suite
  * (region scoring/fallback, planner dedup levels, watermark routing). */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("profile: single-pass stats with planted nulls; drift report flags the broken feed") {
    import graft.pipeline.Profiling
    val ref = Seq((1L, Option(10.0), Option("a")), (2L, Option(20.0), Option("b")),
      (3L, Option(30.0), Option("a"))).toDF("id", "v", "s")
    val cur = Seq((4L, Option(40.0), Option.empty[String]),
      (5L, Option.empty[Double], Option("c")), (6L, Option(60.0), Option("c")))
      .toDF("id", "v", "s")
    val p = Profiling.profile(cur, Seq("v", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val v = p("v")
    assert((v.getLong(1), v.getLong(2), v.getLong(3)) === ((3L, 1L, 2L)))
    assert((v.getDouble(4), v.getDouble(5), v.getDouble(6)) === ((40.0, 60.0, 50.0)))
    assert(v.isNullAt(7) && v.isNullAt(8))
    val s = p("s")
    assert((s.getLong(2), s.getLong(3)) === ((1L, 1L)))
    assert(s.isNullAt(4) && s.isNullAt(6))
    assert((s.getString(7), s.getString(8)) === (("c", "c")))

    val drift = Profiling.profileDrift(ref, cur, Seq("v", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val dv = drift("v")
    assert(dv.getDouble(1) === 0.333333)          // nulls appeared in the feed
    assert(dv.getDouble(2) === 0.6667)            // 2 distinct vs 3
    assert(dv.getDouble(3) === 30.0)              // mean moved 20 -> 50
    assert(drift("s").isNullAt(3))                // no mean for strings
  }

  test("ScaleOut's SPARK_GRAFT_SCALEOUT_BPT parses defensively and names itself") {
    assert(ScaleOut.bytesPerTaskOf(None) === 16L * 1024)
    assert(ScaleOut.bytesPerTaskOf(Some(" 65536 ")) === 65536L)
    Seq("16k", "", "1.5", "0", "-3").foreach { bad =>
      val e = intercept[IllegalArgumentException](ScaleOut.bytesPerTaskOf(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_SCALEOUT_BPT"), e.getMessage)
    }
  }

  test("SnapshotDiff added/removed are exact set differences") {
    val v1 = Seq("a", "b", "c").toDF("path")
    val v2 = Seq("b", "c", "d", "e").toDF("path")
    assert(SnapshotDiff.addedFiles(v1, v2, Seq("path")).as[String].collect().sorted
      === Array("d", "e"))
    assert(SnapshotDiff.removedFiles(v1, v2, Seq("path")).as[String].collect()
      === Array("a"))
  }

  test("ReplicationPlanner applies all three dedup levels") {
    // src has 4 files; f1 already at dst; f2 known to inventory;
    // f3 stat-verified identical; f4 stat size mismatch -> only f4 copies
    val src = Seq(("f1", 10L, "e1"), ("f2", 20L, "e2"), ("f3", 30L, "e3"), ("f4", 40L, "e4"))
      .toDF("path", "size_bytes", "etag")
    val dst = Seq(("f1", 10L, "e1")).toDF("path", "size_bytes", "etag")
    val inv = Seq("f2").toDF("path")
    val stat = Seq(("f3", 30L, "e3"), ("f4", 41L, "e4")).toDF("path", "size_bytes", "etag")
    val plan = ReplicationPlanner.plan(src, dst, inv, stat).select("path").as[String].collect()
    assert(plan === Array("f4"))
  }

  test("ReplicationPlanner: stale inventory entry (size/etag mismatch) does not suppress a re-copy") {
    // f2 is in the inventory but with a stale size; f5 with a stale etag —
    // both must fall through to stat verification and (stat missing) copy.
    // f6 has an agreeing inventory entry -> trusted, skipped.
    val src = Seq(("f2", 20L, "e2"), ("f5", 50L, "e5"), ("f6", 60L, "e6"))
      .toDF("path", "size_bytes", "etag")
    val dst = Seq.empty[(String, Long, String)].toDF("path", "size_bytes", "etag")
    val inv = Seq(("f2", 99L, "e2"), ("f5", 50L, "stale"), ("f6", 60L, "e6"))
      .toDF("path", "size_bytes", "etag")
    val stat = Seq.empty[(String, Long, String)].toDF("path", "size_bytes", "etag")
    val plan = ReplicationPlanner.plan(src, dst, inv, stat)
      .select("path").as[String].collect().sorted
    assert(plan === Array("f2", "f5"))
  }

  test("Bloom plan == exact plan even when the sketch is saturated with false positives") {
    // 64-bit sketch over 300 inventory paths -> essentially every probe is
    // a Bloom positive; positives must be resolved against the real
    // inventory, never dropped (a dropped FP = silent under-replication).
    val src = (1 to 400).map(i => (s"f$i", i.toLong, s"e$i")).toDF("path", "size_bytes", "etag")
    val dst = (1 to 50).map(i => (s"f$i", i.toLong, s"e$i")).toDF("path", "size_bytes", "etag")
    val inv = (51 to 350).map(i => s"f$i").toDF("path")
    val stat = (351 to 375).map(i => (s"f$i", i.toLong, s"e$i")).toDF("path", "size_bytes", "etag")
    val exact = ReplicationPlanner.plan(src, dst, inv, stat)
      .select("path").as[String].collect().sorted
    val bloom = ReplicationPlanner.planWithBloomInventory(src, dst, inv, stat, bloomBits = 64L)
      .select("path").as[String].collect().sorted
    assert(exact === (376 to 400).map(i => s"f$i").toArray.sorted)
    assert(bloom === exact)
  }

  test("G3 gc_executions: planned -> deleting -> terminal, idempotent re-runs") {
    import graft.sources.StorageOps
    val dir = java.nio.file.Files.createTempDirectory("gcx")
    StorageOps.writeFile(s"$dir/a.bin", Array[Byte](1))
    StorageOps.writeFile(s"$dir/b.bin", Array[Byte](2))
    // c.bin never existed -> must resolve to 'missing'
    val plan = Seq(s"$dir/a.bin", s"$dir/b.bin", s"$dir/c.bin").toDF("path")
    var log = GcExecutor.planRows(plan, "exec-1", 1000L)
    log = log.unionByName(GcExecutor.executeRound(log, "exec-1", 2000L)).localCheckpoint()

    val cur = GcExecutor.currentState(log)
      .select("path", "state").as[(String, String)].collect().toMap
    assert(cur(s"$dir/a.bin") === "deleted")
    assert(cur(s"$dir/b.bin") === "deleted")
    assert(cur(s"$dir/c.bin") === "missing")
    assert(!StorageOps.fileExists(s"$dir/a.bin"))
    // idempotence: every path terminal -> empty work set, no new transitions
    assert(GcExecutor.workSet(log, "exec-1").count() === 0)
    assert(GcExecutor.executeRound(log, "exec-1", 3000L).count() === 0)
  }

  test("G3 crash recovery: a dangling 'deleting' marker is retried to terminal") {
    import graft.sources.StorageOps
    val dir = java.nio.file.Files.createTempDirectory("gcx2")
    StorageOps.writeFile(s"$dir/d.bin", Array[Byte](4))
    val plan = Seq(s"$dir/d.bin").toDF("path")
    var log = GcExecutor.planRows(plan, "exec-2", 1000L)
    // simulate a crash after the 'deleting' marker, before any outcome
    log = log.unionByName(log.select(col("execution_id"), col("path"),
      lit("deleting").as("state"), lit(2000L).as("updated_at_ms")))
    assert(GcExecutor.workSet(log, "exec-2").count() === 1)
    log = log.unionByName(GcExecutor.executeRound(log, "exec-2", 3000L))
    assert(GcExecutor.currentState(log).select("state").as[String].collect() === Array("deleted"))
    // same-timestamp tie: terminal outcome outranks the in-flight marker
    val tied = Seq(("e", "p", "deleting", 5000L), ("e", "p", "deleted", 5000L))
      .toDF("execution_id", "path", "state", "updated_at_ms")
    assert(GcExecutor.currentState(tied).select("state").as[String].collect() === Array("deleted"))
  }

  test("ReplicationPlanner copies files missing from stat entirely") {
    val src = Seq(("f9", 1L, "x")).toDF("path", "size_bytes", "etag")
    val empty = Seq.empty[(String, Long, String)].toDF("path", "size_bytes", "etag")
    val plan = ReplicationPlanner.plan(src, empty, empty.select("path"), empty)
    assert(plan.count() === 1)
  }

  test("StateReconciler classifies missing vs size mismatch; promotionSafe") {
    val manifest = Seq(("f1", 10L), ("f2", 20L), ("f3", 30L)).toDF("path", "size_bytes")
    val stat = Seq(("f1", 10L), ("f2", 99L)).toDF("path", "size_bytes")
    val defects = StateReconciler.defects(manifest, stat)
      .select("path", "defect").as[(String, String)].collect().toMap
    assert(defects === Map("f2" -> "size_mismatch", "f3" -> "missing"))
    assert(!StateReconciler.promotionSafe(manifest, stat))
    assert(StateReconciler.promotionSafe(
      Seq(("f1", 10L)).toDF("path", "size_bytes"), stat))
  }

  test("ReadRouterOps reproduces the reference scoring exactly") {
    // ReadRouter.scala:104-111 - storage*0.7 + (active ? 1.0 : 0.3)*0.3
    val health = Seq(
      ("up-active", true, true),     // 1.0
      ("up-inactive", true, false),  // 0.7 + 0.09 = 0.79
      ("down-active", false, true),  // 0.3
      ("down-inactive", false, false) // 0.09
    ).toDF("region", "storage_available", "active")
    val scores = ReadRouterOps.scoreRegions(health)
      .select("region", "score").as[(String, Double)].collect().toMap
    assert(math.abs(scores("up-active") - 1.0) < 1e-9)
    assert(math.abs(scores("up-inactive") - 0.79) < 1e-9)
    assert(math.abs(scores("down-active") - 0.3) < 1e-9)
    assert(math.abs(scores("down-inactive") - 0.09) < 1e-9)
    val best = ReadRouterOps.selectOptimal(health).select("region").as[String].collect()
    assert(best === Array("up-active"))
  }

  test("selectOptimalLocal == selectOptimal on every health combination") {
    import graft.operators.ReadRouterOps
    val regions = Seq("ap-1", "eu-1", "us-1")
    // exhaustive: every (storage, active) assignment over 3 regions
    for (mask <- 0 until (1 << 6)) {
      val health = regions.zipWithIndex.map { case (r, i) =>
        (r, (mask & (1 << (2 * i))) != 0, (mask & (1 << (2 * i + 1))) != 0) }
      val local = ReadRouterOps.selectOptimalLocal(health)
      val df = ReadRouterOps.selectOptimal(
          health.toDF("region", "storage_available", "active"))
        .select("region", "score").as[(String, Double)].collect().headOption
      assert(local === df, s"divergence for $health")
    }
  }

  test("watermark routing: CLOUD only when commitTs <= watermark (v1 ReadRouter)") {
    val reqs = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    ).toDF("id", "commit_ts")
    val wm = lit("2024-03-01 00:00:00").cast("timestamp")
    val routed = ReadRouterOps.routeByWatermark(reqs, "commit_ts", wm, "MEET_WATERMARK")
      .select("id", "target").as[(Long, String)].collect().toMap
    assert(routed === Map(1L -> "CLOUD", 2L -> "ONPREM"))
    val onprem = ReadRouterOps.routeByWatermark(reqs, "commit_ts", wm, "PREFER_ONPREM")
      .select("target").as[String].collect().toSet
    assert(onprem === Set("ONPREM"))
  }

  test("CommitGate quorum = all-approved AND at least one vote") {
    val approvals = Seq(
      ("c1", "r1", true), ("c1", "r2", true),
      ("c2", "r1", true), ("c2", "r2", false)
    ).toDF("commit_id", "target_region", "approved")
    val q = CommitGate.quorum(approvals)
      .select("commit_id", "approved").as[(String, Boolean)].collect().toMap
    assert(q === Map("c1" -> true, "c2" -> false))
  }

  test("PathLocalizer picks the longest matching prefix; unmatched -> null") {
    val mappings = Seq(
      "s3://src/" -> "file:///local/",
      "s3://src/data/" -> "file:///ssd/")
    val df = Seq("s3://src/data/x.parquet", "s3://src/meta/y.json", "gs://other/z")
      .toDF("p")
      .select(col("p"), PathLocalizer.localize(col("p"), mappings).as("out"))
    val out = df.as[(String, String)].collect().toMap
    assert(out("s3://src/data/x.parquet") === "file:///ssd/x.parquet")
    assert(out("s3://src/meta/y.json") === "file:///local/meta/y.json")
    assert(out("gs://other/z") === null)
  }

  test("GcPlanner.deleteGuard honors safety window and waterline") {
    val now = lit("2024-06-10 00:00:00").cast("timestamp")
    val cands = Seq(
      ("old-ok", "2024-06-01 00:00:00", "2024-06-05 00:00:00"),  // past window, wm after gen
      ("too-new", "2024-06-09 00:00:00", "2024-06-09 12:00:00"), // inside safety window
      ("wm-behind", "2024-06-01 00:00:00", "2024-05-01 00:00:00") // waterline behind gen
    ).toDF("path", "generated_at", "wm")
      .select(col("path"), col("generated_at").cast("timestamp").as("generated_at"),
              col("wm").cast("timestamp").as("wm"))
    val kept = GcPlanner.deleteGuard(cands, now, "generated_at",
        safetyWindowSeconds = 86400, cloudSide = true, "wm")
      .select("path").as[String].collect()
    assert(kept === Array("old-ok"))
  }

  test("GcPlanner orphan heuristics: tmp paths get the short grace") {
    val inv = Seq(("_tmp/a", "2024-01-01 00:00:00"), ("data/b", "2024-01-01 00:00:00"))
      .toDF("path", "seen_at")
      .select(col("path"), col("seen_at").cast("timestamp").as("seen_at"))
    val reach = Seq.empty[String].toDF("path")
    val o = GcPlanner.orphans(inv, reach, Seq("path"), "seen_at")
      .select("path", "grace_days").as[(String, Int)].collect().toMap
    assert(o === Map("_tmp/a" -> 3, "data/b" -> 14))
  }

  test("SyncOps retry only resets Failed events (reference Y8 semantics)") {
    val ev = Seq((1L, "Failed"), (2L, "Pending"), (3L, "Completed"))
      .toDF("event_id", "status")
      .withColumn("created_at", lit("2024-01-01 00:00:00").cast("timestamp"))
      .withColumn("target_region", lit("r1"))
    val retried = SyncOps.retryCandidates(ev).select("event_id", "status")
      .as[(Long, String)].collect()
    assert(retried === Array((1L, "Pending")))
  }

  test("asOfExec (custom SparkPlan) == asOf (window form) incl. ties, no-match, same-ts rights") {
    import graft.operators.AsOfJoin
    // deterministic pseudo-random fixture with planted edge cases:
    // keys with no right rows, right rows exactly at a left ts, several
    // right rows on one (key, ts), keys only on the right
    val left = (1 to 300).map { i =>
      (i.toLong, (i % 13).toLong, java.sql.Timestamp.valueOf(f"2024-01-01 00:${(i * 7) % 60}%02d:${(i * 11) % 60}%02d"), i * 1.5)
    }.toDF("event_id", "user_id", "ts", "value")
    val right = (1 to 150).map { i =>
      // user_id 0..9 only => users 10..12 never match; duplicate rows at
      // i multiple of 10 (same key+ts, different payload)
      val ts = java.sql.Timestamp.valueOf(f"2024-01-01 00:${(i * 3) % 60}%02d:${(i * 5) % 60}%02d")
      (if (i % 10 == 0) (i - 1).toLong % 10 else i.toLong % 10, ts, i.toLong + 1000, i * 2.0)
    }.toDF("user_id", "ts", "purchase_id", "purchase_value")

    val ref = AsOfJoin.asOf(left, right, Seq("user_id"), "ts", "ts",
      Seq("purchase_id", "purchase_value")).collect().toSet
    val got = AsOfJoin.asOfExec(left, right, Seq("user_id"), "ts", "ts",
      Seq("purchase_id", "purchase_value")).collect().toSet
    assert(got.size == 300, "left-outer: one output row per left row")
    assert(got == ref)
  }

  test("asOfNearest picks the closer side, ties to before, exact-ts wins, no-match nulls") {
    import graft.operators.AsOfJoin
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, 1L, t("2024-01-01 00:10:00")),  // prev at 00:09 (60s), next at 00:12 (120s) -> prev
      (2L, 1L, t("2024-01-01 00:11:00")),  // prev 00:09 (120s), next 00:12 (60s) -> next
      (3L, 1L, t("2024-01-01 00:09:00")),  // exact-ts match -> that row, delta 0
      (4L, 2L, t("2024-01-01 00:10:30")),  // equidistant 00:10/00:11 (30s both) -> before wins
      (5L, 3L, t("2024-01-01 00:00:00")),  // only later rights -> forward match
      (6L, 9L, t("2024-01-01 00:00:00"))   // user with no rights -> nulls
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (1L, t("2024-01-01 00:09:00"), 100L),
      (1L, t("2024-01-01 00:12:00"), 101L),
      (2L, t("2024-01-01 00:10:00"), 200L),
      (2L, t("2024-01-01 00:11:00"), 201L),
      (3L, t("2024-01-01 01:00:00"), 300L)
    ).toDF("user_id", "ts", "purchase_id")
    val got = AsOfJoin.asOfNearest(left, right, Seq("user_id"), "ts", "ts",
        Seq("purchase_id"))
      .select("event_id", "nearest_purchase_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(got === Map(1L -> Some(100L), 2L -> Some(101L), 3L -> Some(100L),
      4L -> Some(200L), 5L -> Some(300L), 6L -> None))
  }

  test("asOfExec rejects mismatched key/time types loudly (silent wrong hashing otherwise)") {
    import graft.operators.AsOfJoin
    val l = Seq((1, 1L, 10L)).toDF("k", "t", "v")                     // k: int
    val r = Seq((1L, 1L, 2L)).toDF("k", "t", "p")                      // k: bigint
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.asOfExec(l, r, Seq("k"), "t", "t", Seq("p"))
    }
    assert(e.getMessage.contains("key type mismatch"))
    val r2 = Seq((1, "2024-01-01", 2L)).toDF("k", "t", "p")            // t: string
    val e2 = intercept[IllegalArgumentException] {
      AsOfJoin.asOfExec(l, r2, Seq("k"), "t", "t", Seq("p"))
    }
    assert(e2.getMessage.contains("time type mismatch"))
  }

  test("asOfExec self-join (both sides from one source) dedups exprIds itself") {
    import graft.operators.AsOfJoin
    val ev = Tables.events(spark, sf()).limit(2000)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    val l = ev.filter(col("event_type") === "click")
    val r = ev.filter(col("event_type") === "purchase")
      .withColumnRenamed("event_id", "purchase_id")
    val out = AsOfJoin.asOfExec(l, r, Seq("user_id"), "ts", "ts", Seq("purchase_id"))
    val ref = AsOfJoin.asOf(l, r, Seq("user_id"), "ts", "ts", Seq("purchase_id"))
    assert(out.collect().toSet == ref.collect().toSet)
  }

  test("expectations: null fails closed, unique counts extras, fk counts orphans") {
    import graft.pipeline.Profiling
    val df = Seq((1L, Option(5.0)), (2L, Option(-1.0)), (2L, Option.empty[Double]))
      .toDF("id", "v")
    val rows = Profiling.expectations(df, Seq(
        "v_positive" -> (col("v") > 0), "id_small" -> (col("id") < 10)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // -1 fails, null v fails CLOSED -> 2 violations; ids all small -> 0
    assert(rows === Map("v_positive" -> 2L, "id_small" -> 0L))
    val u = Profiling.uniqueExpectation(df, Seq("id"), "id_unique").head()
    assert((u.getString(0), u.getLong(1), u.getLong(2)) === (("id_unique", 1L, 3L)))
    val parent = Seq(1L).toDF("pid")
    val fk = Profiling.fkExpectation(df, "id", parent, "pid", "id_fk").head()
    assert((fk.getString(0), fk.getLong(1), fk.getLong(2)) === (("id_fk", 2L, 3L)))
  }

  test("observedGate: metrics ride the action's own scan and match recomputation") {
    import graft.pipeline.Profiling
    val docs = Tables.documents(spark, sf())
    val pred = col("n_chars") > 250
    val (gated, obs) = Profiling.observedGate(docs, pred)
    val kept = gated.count() // the ONLY job — metrics are a side product
    val m = obs.get
    assert(m("rows_in") === docs.count())
    assert(m("rows_kept") === kept)
    // null predicate rows fail closed in the metric, same as the filter
    val withNull = Seq((1L, Some(5L)), (2L, Option.empty[Long]), (3L, Some(50L)))
      .toDF("id", "v")
    val (g2, o2) = Profiling.observedGate(withNull, col("v") > 10, "g2")
    assert(g2.count() === 1L && o2.get("rows_kept") === 1L && o2.get("rows_in") === 3L)
  }

  test("kAnonymityViolations flags classes under k and only those") {
    import graft.pipeline.Profiling
    val df = Seq(
      ("US", "A"), ("US", "A"), ("US", "A"),   // class of 3 -> ok at k=3
      ("US", "B"), ("US", "B"),                // class of 2 -> violation
      ("DE", "A")                              // singleton  -> violation
    ).toDF("country", "segment")
    val v = Profiling.kAnonymityViolations(df, Seq("country", "segment"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(v === Map(("US", "B") -> 2L, ("DE", "A") -> 1L))
    assertThrows[IllegalArgumentException] {
      Profiling.kAnonymityViolations(df, Seq.empty, k = 3)
    }
  }

  test("materialized agg: signed-delta refresh equals full recompute; emptied groups vanish") {
    import graft.operators.MaterializedAgg
    val base = Seq(("a", 10L), ("a", 20L), ("b", 5L), ("c", 7L)).toDF("k", "v")
    val state = MaterializedAgg.init(base, Seq("k"), Seq("v"))
    // delta: insert into a, delete ONE b... then delete the last b and c
    // entirely (group-vanish path), insert a brand-new group d
    val changes = Seq(
      ("a", 30L, "insert"), ("b", 5L, "delete"),
      ("c", 7L, "delete"), ("d", 1L, "insert"),
    ).toDF("k", "v", "_change_type")
    val out = MaterializedAgg.refresh(state, changes, Seq("k"), Seq("v"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq(("a", 3L, 60L), ("d", 1L, 1L)))
    // refreshed state == full recompute of the post-change base
    val after = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("d", 1L)).toDF("k", "v")
    val full = MaterializedAgg.init(after, Seq("k"), Seq("v"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === full.toSeq)
  }

  test("materialized agg over the live catalog changefeed equals full recompute at head") {
    import graft.operators.MaterializedAgg
    import graft.catalog.GraftCatalog
    val cat = new GraftCatalog(spark, java.nio.file.Files.createTempDirectory("mv-spec").toString)
    val orders = Tables.orders(spark, sf())
    def prep(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("grp", col("o_orderkey") % 5)
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    cat.createTable("t", "mv")
    cat.commitAppend("t", "mv", orders.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice"))
    cat.commitAppend("t", "mv", orders.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice"))
    cat.commitReplace("t", "mv", cat.read("t", "mv").filter(col("o_orderkey") % 11 =!= 0))
    val keys = Seq("grp"); val sums = Seq("cents")
    val mv0 = MaterializedAgg.init(prep(cat.readVersion("t", "mv", 0)), keys, sums)
    val mv1 = MaterializedAgg.refresh(mv0, prep(cat.changesBetween("t", "mv", 0, 1)), keys, sums)
    val mv2 = MaterializedAgg.refresh(mv1, prep(cat.changesBetween("t", "mv", 1, 2)), keys, sums)
    val full = MaterializedAgg.init(prep(cat.read("t", "mv")), keys, sums)
    assert(mv2.orderBy("grp").collect().toSeq === full.orderBy("grp").collect().toSeq)
  }
}

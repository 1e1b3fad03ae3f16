package graft

import graft.pipeline.Multimodal
import graft.queries.{Pipeline, Relational}

/** Physical-plan assertions: the queries must produce the plans we would
  * want on a 1000-executor cluster, not just correct rows — pushdown,
  * pruning, broadcast joins, codegen coverage. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf())
    df.collect() // materialize so AQE settles on the final physical plan
    df.queryExecution.executedPlan.toString
  }

  test("filter+project pushes filters and prunes columns at the parquet scan") {
    val p = plan("rel_filter_project")
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("IsNotNull(o_orderstatus)") || p.contains("EqualTo(o_orderstatus"),
      s"status filter not pushed:\n$p")
    // the scan keeps filter columns (status) but must prune everything
    // else: 3 of the 6 order columns
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"),
      s"scan reads more than projection+filter columns:\n$p")
  }

  test("dimension joins broadcast (no shuffle for customer/nation/region)") {
    val p = plan("rel_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"dim join degraded to sort-merge:\n$p")
  }

  test("flagship queries run inside WholeStageCodegen") {
    // AQE wraps the plan and reports zero codegen subtrees pre-execution;
    // disable it for the static inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = SparkEntry.queries("rel_pricing_summary")(spark, sf())
      val p = df.queryExecution.explainString(org.apache.spark.sql.execution.CodegenMode)
      assert(!p.contains("Found 0 WholeStageCodegen"), s"zero codegen subtrees:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("rel_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"top-k did a full sort:\n$p")
  }

  test("metadata-only multimodal query prunes the heavy binary column") {
    val df = Multimodal.metadataOnly(Multimodal.mediaTable(Tables.documents(spark, sf())))
    val p = df.queryExecution.executedPlan.toString
    // the scan must not read `text` eagerly... it is the media source here,
    // but the point stands for the doc_id-only branch: ensure lang/source
    // are pruned from the scan.
    assert(!p.contains("lang"), s"scan reads pruned column lang:\n$p")
    assert(!p.contains("source"), s"scan reads pruned column source:\n$p")
  }

  test("codegen'd cosine expression appears in the similarity plan") {
    val p = plan("ann_topk")
    assert(p.contains("cosine_similarity"), s"custom expression missing:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
  }

  test("exact dedup aggregates with partial (map-side) combine") {
    val p = plan("dedup_exact_groups")
    assert(p.contains("partial_"), s"no partial aggregation phase:\n$p")
  }

  test("L0 sampled verify plans as distributed top-k, never a global sort") {
    val p = plan("sync_verify_sample")
    assert(p.contains("TakeOrderedAndProject"), s"sample did a full sort:\n$p")
  }

  test("ball-cover near-dup search contains no cartesian product — cell-pair equi-joins only") {
    val p = plan("ann_neardup_pairs")
    assert(!p.contains("CartesianProduct"), s"ball cover degraded to all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"ball cover degraded to nested-loop:\n$p")
  }

  test("document chunking is a pure narrow map — zero exchanges, zero joins") {
    // the operator itself, not the declared query (whose orderBy is
    // presentation-only for the oracle compare)
    val df = graft.pipeline.Curation.chunkDocuments(
      Tables.documents(spark, sf()), "doc_id", "text", size = 32, stride = 24)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"chunking shuffled:\n$p")
    assert(!p.contains("Join"), s"chunking joined:\n$p")
  }

  test("bucketed tables join with ZERO shuffle exchanges") {
    import org.apache.spark.sql.functions.col
    val (l, o) = graft.queries.Relational.bucketedOrderTables(spark, sf())
    // disable broadcast so the plan must stand on the bucketed layout
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange"),
        s"bucketed co-location must eliminate every join shuffle:\n$p")
      // (bucket-LOCAL SMJ sorts remain: sortBy orders each file, and a
      // bucket may span several files — the expensive part, the network
      // exchange, is what the layout removes)
      assert(p.contains("Bucketed: true"), s"scan must be bucket-aware:\n$p")
      // correctness of the layout round-trip, not just the plan shape
      val viaBuckets = joined.count()
      val direct = Tables.lineitem(spark, sf())
        .join(Tables.orders(spark, sf()),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(viaBuckets === direct)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("sessionization shuffles the events exactly once, on user_id") {
    val df = SparkEntry.queries("rel_sessionize")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    // one hash exchange for the session aggregation (the presentation
    // orderBy adds only a range exchange over the already-aggregated rows)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 1, s"session agg must shuffle the corpus once, got $hashExchanges:\n$p")
    assert(p.contains("user_id"), s"session shuffle must key on user_id:\n$p")
  }

  test("funnel stage aggregates broadcast back against the fact scan") {
    val df = SparkEntry.queries("rel_funnel")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"user-level stage tables must broadcast, not shuffle the fact side:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"funnel degraded to a cross join:\n$p")
  }

  test("partitioned layout prunes whole directories at planning time") {
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Relational.partitionedDocuments(spark, sf())
    val df = docs.filter(col("lang") === "en").select("doc_id")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"lang predicate must prune partitions, not filter rows:\n$p")
    // the pruned scan must touch only the lang=en directory
    val files = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files.map(_.getPath.toString))
    }.get
    assert(files.nonEmpty && files.forall(_.contains("lang=en")),
      s"scan file list must be only lang=en: $files")
  }

  test("AQE splits a planted hot key at runtime: sort-merge join marked skew=true") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.autoBroadcastJoinThreshold",
    ).map(k => k -> conf.getOption(k))
    try {
      // thresholds scaled to a unit-test corpus; the MECHANISM is the
      // same one a 100 TB job relies on (AQE re-plans the oversized
      // partition into parallel splits instead of one straggler task)
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val left = spark.range(40000)
        .select(when(col("id") % 10 < 9, lit(7L)).otherwise(col("id")).as("k"),
          concat(lit("payload-payload-payload-"), col("id")).as("pad"))
      val right = spark.range(2000).select(col("id").as("k"), lit("r").as("rv"))
      // the pad must survive INTO the shuffle (so the hot partition's
      // bytes trip the threshold) and the post-join aggregate must not
      // require the join's partitioning (a keyed agg would veto the
      // split) — a global sum satisfies both
      val out = left.join(right, "k").agg(sum(length(col("pad"))).as("bytes"))
      out.collect()
      val p = out.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must split the hot-key partition (skew=true in the final plan):\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("dim-filtered star join prunes fact partitions at RUNTIME (DPP)") {
    val df = SparkEntry.queries("rel_dpp_join")(spark, sf())
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"fact scan must carry a runtime partition filter from the dim side:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the filtered dim must broadcast (DPP reuses that broadcast):\n$p")
  }

  test("span-rewrite dedup shuffles exactly twice: span election + doc reassembly") {
    // the operator itself (the declared query adds a presentation orderBy);
    // its contract: ONE shuffle on the span value, ONE back on the doc id —
    // the doc-side join must reuse the id partitioning or broadcast, never
    // add a third corpus shuffle
    val df = graft.pipeline.Dedup.spanDedupRewrite(
      Tables.documents(spark, sf()), "doc_id", "text", window = 3)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 2, s"expected <=2 hash exchanges, got $hashExchanges:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"span rewrite degraded to a cross join:\n$p")
  }

  test("exact-substring pair search contains no cartesian product — gram equi-joins only") {
    val p = plan("dedup_substring_pairs")
    assert(!p.contains("CartesianProduct"), s"cartesian in substring-pair plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in substring-pair plan:\n$p")
  }

  test("MinHash-LSH pair search contains no cartesian product — banded equi-joins only") {
    val p = plan("dedup_minhash_pairs")
    assert(!p.contains("CartesianProduct"), s"LSH degraded to all-pairs:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"LSH degraded to nested-loop:\n$p")
  }

  test("MinHash self-join legs reuse ONE signature computation in the shuffle-join regime") {
    // At toy scale the band table broadcasts, so each self-join leg keeps
    // its own signature pipeline. At warehouse scale the join is
    // sort-merge and the two legs are canonically identical exchanges —
    // Spark must collapse them (ReusedExchange), i.e. the expensive
    // minhash_signature scan runs ONCE however large the corpus. Pin
    // that by forcing the no-broadcast regime.
    // The signatures and shingle sets are localCheckpointed, so their
    // pipeline runs in the checkpoint's own execution and the query's
    // plan scans the checkpoint: count it across EVERY execution the
    // query ran. The corpus text is tokenized in ONE projection, so the
    // shingle sets are computed once too, and the forCompute spread
    // shuffle runs once.
    import scala.jdk.CollectionConverters._
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      (org.apache.spark.sql.execution.QueryExecution, String)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe -> qe.executedPlan.toString.split("== Initial Plan ==").head)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = SparkEntry.queries("dedup_minhash_pairs")(spark, sf())
      df.collect()
      // the final collect is the query's last execution: once it is
      // delivered, so is every checkpoint execution before it
      val deadline = System.nanoTime() + 30e9.toLong
      while (!plans.asScala.exists(_._1 eq df.queryExecution) &&
             System.nanoTime() < deadline) Thread.sleep(20)
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      val reused = "ReusedExchange".r.findAllIn(p).size
      // band legs + the two shingle-set verify legs both collapse
      assert(reused >= 2, s"expected >=2 reused exchanges (bands, shingle sets), got $reused:\n$p")
      assert(plans.asScala.exists(_._1 eq df.queryExecution), "query execution never delivered")
      val all = plans.asScala.map(_._2).toSeq
      val sigScans = all.map("minhash_signature".r.findAllIn(_).size).sum
      assert(sigScans == 1, s"signature pipeline computed $sigScans times, want 1:\n" +
        all.mkString("\n----\n"))
      val setScans = all.map("shingle_set\\(".r.findAllIn(_).size).sum
      assert(setScans == 1, s"shingle sets computed $setScans times, want 1:\n" +
        all.mkString("\n----\n"))
      val spreads = all.map("REPARTITION_BY_NUM".r.findAllIn(_).size).sum
      assert(spreads == 1, s"forCompute spread ran $spreads times, want 1:\n" +
        all.mkString("\n----\n"))
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    }
  }

  test("PQ scoring broadcasts the query LUTs; the codes table is the streamed side") {
    val p = plan("ann_pq_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query LUTs not broadcast:\n$p")
  }

  test("ANN ranking is bounded-heap partial aggregation — no per-query window rank") {
    // a Window.partitionBy(query_id) would pull every scored corpus row
    // for a query into ONE task — OOM by construction at a billion-row
    // corpus; the TopKAggregator plan must partial-aggregate map-side
    for (q <- Seq("ann_topk", "ann_pq_topk", "ann_lsh_topk", "ann_ivf_topk")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q ranks via a single-partition window:\n$p")
      assert(p.contains("ObjectHashAggregate") && p.contains("partial_topkagg"),
        s"$q top-k is not a partial (map-side) aggregation:\n$p")
    }
  }

  test("token pagination page plans as TakeOrderedAndProject with the key filter pushed") {
    import graft.operators.Pagination
    val names = Tables.part(spark, sf()).select(org.apache.spark.sql.functions.col("p_name")).distinct()
    val t1 = Pagination.nextToken(names, "p_name", 25, None)
    val page = Pagination.page(names, "p_name", 25, t1)
    page.collect()
    val p = page.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), s"page did a full sort:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(p_name), GreaterThan(p_name"),
      s"token filter not pushed to the scan:\n$p")
  }

  test("as-of join plans with NO join operator — one union-scan window pass") {
    val p = plan("rel_asof_join")
    assert(!p.contains("Join"), s"as-of degraded to a join (range explosion at scale):\n$p")
    assert(p.contains("Window"), s"expected the running-last window pass:\n$p")
  }

  test("as-of exec plans as the custom AsOfJoinExec: 2 exchanges, 2 sorts, streaming merge") {
    // AQE's executedPlan string carries final + initial sections; assert
    // on the final plan only
    val p = plan("rel_asof_join_exec").split("== Initial Plan ==").head
    // AsOfJoinExec prints with the Exec suffix stripped; `!` would mark
    // a missing-input (producedAttributes) bug
    assert(" AsOfJoin ".r.findAllIn(p).nonEmpty, s"custom strategy did not plan the node:\n$p")
    assert(!p.contains("!AsOfJoin"), s"node flags missing input:\n$p")
    // the planner owes the operator exactly the two co-partitioning hash
    // exchanges (plus the final range exchange for the ORDER BY) — a plan
    // that shuffles more than that defeats the point of declaring
    // requirements
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"as-of exec fell back to a generic join or window:\n$p")
  }

  test("range join is a bucketed equi-join, never a nested-loop") {
    val p = plan("rel_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"range join degraded to all-pairs compare:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), s"no equi-join on the bucket key:\n$p")
  }

  test("contamination broadcasts the eval-set gram side") {
    val p = plan("text_contamination")
    assert(p.contains("BroadcastHashJoin"), s"eval grams not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination degraded to all-pairs:\n$p")
  }

  test("DSIR weight table broadcasts into the corpus token scan") {
    val p = plan("sample_dsir")
    // the <=4096-row bucket-weight table must ride a broadcast hash join
    // on the bucket key; shuffling the corpus token stream would be the
    // 100 TB mistake. (The 1-row LM totals legitimately ride broadcast
    // nested-loop CROSS joins inside the weight-table build — that side
    // is vocab-bounded, never corpus-sized, so only CartesianProduct is
    // categorically banned here.)
    assert(p.contains("BroadcastHashJoin"), s"weight table not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"dsir degraded to all-pairs:\n$p")
  }

  test("salted skew-join joins on the salt sub-key so no reducer owns the hot key") {
    // broadcast off: at warehouse scale neither side fits in the driver,
    // and the salted shape only matters for a shuffling join
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("rel_salted_skew_join")(spark, sf())
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"salted join must shuffle on (key, salt):\n$p")
      assert(p.contains("_salt"), s"join keys must include the salt sub-key:\n$p")
      assert(!p.contains("CartesianProduct"), s"dim explode degraded to all-pairs:\n$p")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("merge upsert: matched keys rewrite, unmatched keys insert, rest survive") {
    import org.apache.spark.sql.functions.{col, sum}
    val df = SparkEntry.queries("rel_merge_upsert")(spark, sf())
    val rows = df.collect()
    val byPriority = rows.map(r => r.getString(r.fieldIndex("priority")) ->
      r.getLong(r.fieldIndex("n_rows"))).toMap
    val orders = Tables.orders(spark, sf())
    val total = orders.count()
    val matched = orders.filter(col("o_orderkey") % 97 === 0).count()
    val inserted = orders.filter(col("o_orderkey") % 501 === 0).count()
    assert(byPriority("0-MERGED") === matched, "every 97th key must be rewritten")
    assert(byPriority("6-INSERTED") === inserted, "every 501st key must be inserted")
    assert(byPriority.values.sum === total + inserted,
      "merge must preserve unmatched target rows and add only the inserts")
    // inserts are re-keyed negative, so the global min key is negative
    assert(rows.map(r => r.getLong(r.fieldIndex("min_key"))).min < 0L)
  }

  test("interval overlap join is a bucketed equi-join — no nested loop, no cartesian") {
    val p = plan("rel_interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degraded to a nested loop:\n$p")
  }

  test("gap fill runs as one window over one shuffle on user_id") {
    // the AQE plan string appends an "== Initial Plan ==" section that
    // would double-count operators — inspect the final plan only
    val p = plan("rel_gap_fill").split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected exactly 1 hash exchange, got $exchanges:\n$p")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      s"no window operator:\n$p")
  }

  test("dhash fingerprint is a pure projection — zero exchanges, zero joins") {
    val df = Multimodal.dhashFingerprint(
      Multimodal.mediaTable(Tables.documents(spark, sf())))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"dhash must be narrow column algebra:\n$p")
  }

  test("nearest as-of: one hash exchange, two sorts, no unbounded-following frame") {
    val p = plan("rel_asof_nearest").split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges === 1, s"expected exactly 1 hash exchange, got $exchanges:\n$p")
    // the O(n²)-per-group frame must never appear
    assert(!p.contains("unboundedfollowing$()"), s"unbounded-following frame planned:\n$p")
  }

  test("sweep: no query plans an unlisted CartesianProduct") {
    // Documented exceptions — bounded fixtures (doc_id < 100 ngram pair
    // graph) or verifier-only brute legs whose quadratic side exists to
    // prove the production operator's output. Everything else must plan
    // equi-joins / broadcasts only; a new query that accidentally plans a
    // cartesian fails here before it ever reaches a driver gate.
    val boundedOrVerifier = Set(
      "dedup_ngram_pairs", "dedup_cluster_keepers", "dedup_best_keepers",
      "dedup_topk_keepers", "graph_pagerank", "graph_triangles",
      "sample_leakage_split", "dedup_simhash_exact_diff")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(boundedOrVerifier)
      .flatMap { name =>
        val p =
          try SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString
          catch { case e: Throwable => fail(s"$name failed to plan: $e") }
        if (p.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty, s"unlisted cartesian products in: $offenders")
  }

  test("AQE coalesces an over-partitioned shuffle down to the data's real size") {
    // the 1000-executor reality: static shuffle.partitions is always
    // wrong for SOME stage; AQE folding tiny post-shuffle partitions
    // into few reads is what keeps small aggregates from paying 200
    // task launches. Assert the mechanism actually engages.
    import org.apache.spark.sql.functions.{col, sum}
    val saved = spark.conf.getOption("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try {
      val q = Tables.nation(spark, sf())
        .groupBy(col("n_regionkey")).agg(sum(col("n_nationkey")))
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
        s"AQE did not coalesce the 200-partition shuffle:\n$p")
    } finally saved.foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
  }

  test("TPC-H composites: dims broadcast, top-k is TakeOrderedAndProject, no cartesian") {
    for (q <- Seq("rel_tpch_q3", "rel_tpch_q10")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q dim join not broadcast:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"$q did a global sort:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
    }
  }

  test("rank<=k window filter plans WindowGroupLimit (per-partition top-k, not full sort+filter)") {
    // Spark's group-limit pushdown: a row_number()<=k filter becomes a
    // WindowGroupLimit that keeps k rows per key on EACH map side before
    // the window's shuffle — at 100 TB the exchange carries k rows per
    // customer instead of every order. Assert the optimization actually
    // fires for our top-k-per-group query shape.
    val p = plan("rel_window_top3")
    assert(p.contains("WindowGroupLimit"), s"group-limit pushdown did not fire:\n$p")
  }

  test("join strategy hints override the planner: SHUFFLE_HASH and MERGE both honored") {
    // At 100 TB the planner's default isn't always right (a sort-merge
    // join pays two sorts a shuffled-hash join skips when one side fits
    // per-partition memory); hints are the escape hatch and must reach
    // the physical plan.
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf()).select("l_orderkey", "l_quantity")
    val o = Tables.orders(spark, sf()).select("o_orderkey")
    def planOf(hint: String): String = {
      val q = li.join(o.hint(hint), li("l_orderkey") === o("o_orderkey"))
      q.collect()
      q.queryExecution.executedPlan.toString
    }
    assert(planOf("SHUFFLE_HASH").contains("ShuffledHashJoin"),
      "SHUFFLE_HASH hint ignored")
    assert(planOf("MERGE").contains("SortMergeJoin"), "MERGE hint ignored")
  }

  test("runtime bloom-filter join: selective dim filter injects a bloom probe on the fact scan") {
    // The 100 TB shape this exercises: a selective dimension predicate
    // (urgent orders) should cut the FACT side's shuffle before the join
    // — Spark's runtime bloom filter builds a sketch from the filtered
    // dim side and probes it on lineitem rows pre-shuffle. Size
    // thresholds are production-tuned (10 GB application side), so the
    // test lowers them to exercise the rewrite at fixture scale.
    import org.apache.spark.sql.functions.{col, sum}
    val conf = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the fact side pre-aggregates by order — that shuffle below the
      // join is what the bloom probe cuts (Spark only injects when the
      // application side has a shuffle to save)
      val li = Tables.lineitem(spark, sf())
        .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("qty"))
      val urgent = Tables.orders(spark, sf())
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val q = li.join(urgent, li("l_orderkey") === urgent("o_orderkey"))
        .agg(sum(col("qty")))
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"), s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bm25: IDF side broadcasts, top-k is TakeOrderedAndProject, no cartesian") {
    val p = plan("text_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"), s"bm25 did a global sort:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"IDF join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bm25 planned a product join:\n$p")
  }

  test("quantile gate: thresholds broadcast back into the corpus join") {
    val p = plan("sample_quantile_filter")
    assert(p.contains("BroadcastHashJoin"), s"threshold join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"per-group threshold degraded to SMJ:\n$p")
  }

  // ---- small catalog reads: FoldLocalRelations' driver-read bound ----

  private def freshCatalog(): graft.catalog.GraftCatalog =
    new graft.catalog.GraftCatalog(spark,
      java.nio.file.Files.createTempDirectory("graft-plan").toString)

  /** `df`'s count: its value, whether it folded into one driver-local
    * relation, and its executed plan. */
  private def countPlan(df: org.apache.spark.sql.DataFrame): (Long, Boolean, String) = {
    val c = df.groupBy().count()
    val n = c.collect().head.getLong(0)
    (n, c.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      c.queryExecution.executedPlan.toString)
  }

  test("a count over a table past the driver-read bound still plans FileScan parquet") {
    import org.apache.spark.sql.functions.col
    val cat = freshCatalog()
    cat.createTable("ns", "big")
    // scrambled longs: incompressible, about 8 bytes a row
    cat.commitAppend("ns", "big", spark.range(0, 200000, 1, 2)
      .select((col("id") * 2654435761L % 1000000007L).as("x")))
    val head = cat.latest("ns", "big").get
    assert(cat.dataFileEntries("ns", "big", head).map(_._2).sum >
      graft.catalog.GraftCatalog.LocalFilesTableBytes)
    val (n, folded, p) = countPlan(cat.read("ns", "big"))
    assert(n === 200000L)
    assert(!folded && p.contains("FileScan parquet"), s"a large count left its scan:\n$p")
  }

  test("a positional-delete read keeps its scan; an equality-delete count over small " +
       "files folds on the driver with the right answer, and the bare read keeps its scan") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val cat = freshCatalog()
    Seq("pos", "eq").foreach { t =>
      cat.createTable("ns", t)
      cat.commitAppend("ns", t, (1L to 40L).toDF("id"))
      cat.commitAppend("ns", t, (41L to 60L).toDF("id"))
    }
    cat.commitDeletePositions("ns", "pos", cat.positionsWhere("ns", "pos", col("id") <= 5L))
    val (posN, posFolded, posPlan) = countPlan(cat.read("ns", "pos"))
    assert(posN === 55L)
    assert(!posFolded && posPlan.contains("FileScan parquet"),
      s"a position-delete read left its scan:\n$posPlan")

    cat.commitDelete("ns", "eq", Seq(3L, 45L, 99L).toDF("id"))
    cat.commitAppend("ns", "eq", Seq(3L, 61L).toDF("id"))
    val (eqN, eqFolded, eqPlan) = countPlan(cat.read("ns", "eq"))
    assert(eqN === 60L, "two deleted, one re-appended, one new")
    assert(eqFolded, s"a small equality-delete count did not fold:\n$eqPlan")
    val (n, jobs) = withJobs(cat.read("ns", "eq").count())
    assert(n === 60L)
    assert(jobs.isEmpty, s"a small equality-delete count ran jobs: $jobs")
    val (filteredN, filteredFolded, _) = countPlan(cat.read("ns", "eq").filter(col("id") > 40L))
    assert(filteredN === 20L && filteredFolded, "a filtered equality-delete count")
    // only a count folds over the scans: the read itself keeps them
    val read = cat.read("ns", "eq")
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.FoldLocalRelations")
    val unfoldedFiles = try cat.read("ns", "eq").inputFiles.sorted
      finally spark.conf.unset("spark.sql.optimizer.excludedRules")
    assert(unfoldedFiles.nonEmpty && read.inputFiles.sorted === unfoldedFiles,
      s"the bare equality-delete read lost its input files: ${read.inputFiles.toSeq}")
    assert(read.queryExecution.executedPlan.toString.contains("FileScan parquet"))
    assert(read.as[Long].collect().sorted === ((1L to 61L).filter(i => i != 45L)).toArray)
  }
}

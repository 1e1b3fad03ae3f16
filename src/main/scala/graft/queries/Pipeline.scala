package graft.queries

import java.nio.file.Files

import graft.Tables
import graft.pipeline.{Curation, Dedup, GraphOps, Multimodal, Retrieval, Similarity, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline queries: dedup, similarity search, text
  * analysis, multimodal plumbing — over the documents/embeddings tables.
  * SQL-expressible ops carry DuckDB oracles. MinHash-LSH is oracle-checked
  * through its *verified* output (16 bands × 2 rows — see
  * dedupMinhashPairs for the recall arithmetic that makes the verified
  * set equal the exact-Jaccard pair set DuckDB computes directly).
  * SimHash/LSH/PQ outputs are defined by engine-internal arithmetic
  * (xxhash64, seeded quantizers); since round 13 their DECISIONS export
  * as parquet fixtures DuckDB ingests, so every one carries a full hash
  * oracle — only slo_approx (the sketch estimate itself) stays rows-only.
  */
object Pipeline {

  type Q = (SparkSession, String) => DataFrame

  private val stop = TA.DefaultStopwords
  private def stopSql(listExpr: String = "string_split(text, ' ')") =
    s"list_filter($listExpr, x -> x IN (${stop.map(s => s"'$s'").mkString(", ")}))"

  // ---------------- dedup ----------------

  private def dedupExactKeepers: Q = (s, d) =>
    Dedup.exactDedup(Tables.documents(s, d), "text", "doc_id")
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  private def dedupExactGroups: Q = (s, d) =>
    Dedup.exactGroups(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("fp"))

  /** MinHash-LSH near-dups, 16 bands × 2 rows: an unrelated pair collides
    * in a band with prob J² (so the candidate set stays near-linear — r=1
    * banding floods buckets with every pair sharing one common shingle),
    * while a planted near-dup at J >= 0.8 misses all 16 bands with prob
    * (1−0.64)^16 ≈ 7e-8. On this corpus the verified output therefore
    * equals the exact-Jaccard pair set the DuckDB oracle computes
    * directly from word 2-shingles (the gate checks that at sf0.01). */
  private def dedupMinhashPairs: Q = (s, d) =>
    Dedup.minhashNearDups(Tables.documents(s, d), "doc_id", "text",
        numHashes = 32, shingleK = 2, bands = 16, threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  /** Incremental dedup: the docs with doc_id ≡ 0 (mod 4) arrive as a new
    * batch and are checked against everything else (the admitted corpus).
    * Same 16×2 banding arithmetic as dedupMinhashPairs, so the verified
    * output equals the exact cross-set Jaccard pair set DuckDB computes. */
  private def dedupIncrementalPairs: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.minhashNearDupsAgainst(
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", numHashes = 32, shingleK = 2, bands = 16, threshold = 0.5)
      .orderBy(col("incoming_id"), col("existing_id"))
  }

  private def dedupSimhashPairs: Q = (s, d) => {
    val sh = Dedup.simhashTable(Tables.documents(s, d), "doc_id", "text")
    if (fixturesEnabled)
      // the signatures ARE the quantizer decisions — banding, hamming
      // and the distance cut replay declaratively in DuckDB
      sh.coalesce(1).write.mode("overwrite")
        .parquet(s"${oracleFixtureDir(d)}/simhash_sigs")
    Dedup.simhashNearDupsOnTable(sh, "doc_id", maxDistance = 16)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** In-engine verifier for the pigeonhole SimHash banding: the
    * symmetric difference between the banded join and the all-pairs
    * Hamming search, which the pigeonhole theorem proves EMPTY for
    * maxDistance < bands. The oracle is the empty set — if banding ever
    * lost (or invented) a pair, rows would appear and the driver gate
    * would fail. SimHash values are xxhash64-defined so the pair lists
    * themselves admit no cross-engine oracle; the emptiness of this diff
    * is engine-independent. The quadratic brute side is verifier-only —
    * the production operator is the banded form. */
  private def dedupSimhashExactDiff: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    // signatures computed ONCE and checkpointed — the banded and brute
    // forms plus both except-legs would otherwise recompute the 64-vote
    // aggregation up to 4×
    val sh = Dedup.simhashTable(docs, "doc_id", "text").localCheckpoint()
    val banded = Dedup.simhashNearDupsExactOnTable(sh, "doc_id",
      maxDistance = 7, bands = 8)
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= 7)
      .select(col("id_a"), col("id_b"), col("hamming"))
    banded.exceptAll(brute).unionAll(brute.exceptAll(banded))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Gram sets are projected BEFORE the pair join — computing them inside
    * the join condition rebuilds both arrays per pair (O(pairs·len))
    * instead of per doc (O(docs·len)). */
  private def ngramPairs(s: SparkSession, d: String): DataFrame = {
    // NO spread (round-16, reverting round-15): the input is BOUNDED —
    // 100 docs by declaration — so the pair stage is ≤ 100·99/2 jaccard
    // evaluations (~10 ms single-core), while the round-15 32-way
    // repartition added an exchange + 32-task stages to the five queries
    // built on this graph (triangles, pagerank, cluster keepers,
    // leakage split) whose cost is pure scheduling at any scale
    val g = Tables.documents(s, d).filter(col("doc_id") < 100)
      .select(col("doc_id"), Dedup.charNgrams(col("text"), 3).as("grams"))
    val a = g.select(col("doc_id").as("id_a"), col("grams").as("grams_a"))
    val b = g.select(col("doc_id").as("id_b"), col("grams").as("grams_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("sim", Dedup.jaccard(col("grams_a"), col("grams_b")))
      .filter(col("sim") >= 0.5)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  private def dedupNgramPairs: Q = (s, d) =>
    ngramPairs(s, d).orderBy(col("id_a"), col("id_b"))

  /** Full dedup pipeline: near-dup pairs → connected components → keep the
    * min-id representative per cluster. Pairs come from the (bounded,
    * SQL-expressible) n-gram Jaccard stage so DuckDB can replay the whole
    * pipeline with a recursive-CTE transitive closure; the MinHash-LSH
    * front end composes identically (PipelineSpec covers it on planted
    * fixtures). */
  private def dedupClusterKeepers: Q = (s, d) =>
    Dedup.clusterNearDups(
        ngramPairs(s, d).select(col("id_a"), col("id_b")),
        Tables.documents(s, d).filter(col("doc_id") < 100).select("doc_id"))
      .filter(col("id") === col("cluster"))
      .select(col("id").as("doc_id"))
      .orderBy(col("doc_id"))

  // ---------------- text analysis ----------------

  private def textTokenStats: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TA.tokenCount(col("text")).as("n_tokens"),
      TA.avgWordLen(col("text")).as("avg_word_len"),
      TA.stopwordRatio(col("text")).as("stop_ratio"),
      TA.punctRatio(col("text")).as("punct_ratio"))
      .orderBy(col("doc_id"))

  private def textQualityBySource: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("source"), TA.qualityScore(col("text")).as("q"))
      .groupBy(col("source"))
      .agg(round(avg(col("q")), 4).as("avg_quality"), count(lit(1)).as("docs"))
      .orderBy(col("source"))

  private def textLangidConfusion: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), TA.predictLang(col("text")).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("lang"), col("predicted"))

  private def textFingerprints: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TA.fingerprint(col("text")).as("fp"),
      TA.bowFingerprint(col("text")).as("bow_fp"))
      .orderBy(col("doc_id"))

  // ---------------- similarity search ----------------

  private def annTopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Ordered BPE merge list for text_bpe_encode — interpolated into the
    * oracle SQL from this ONE definition so both engines must replay the
    * identical rewrite chain. */
  private val bpeMerges = Seq(
    "t" -> "h", "th" -> "e", "e" -> "r", "a" -> "n", "s" -> "t",
    "o" -> "r", "a" -> "t", "i" -> "n", "r" -> "o", "l" -> "o")

  /** BPE tokenization of the corpus vocabulary: distinct words + corpus
    * frequency, encoded through the fixed merge chain. The oracle
    * replays the spaced-symbol rewrite literally. */
  private def textBpeEncode: Q = (s, d) => {
    val words = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n_occurrences"))
    Curation.bpeEncode(words, "word", bpeMerges)
      .select(col("word"), col("n_occurrences"), col("encoded"), col("n_pieces"))
      .orderBy(col("word"))
  }

  /** Hard negatives (contrastive-training mining): top-5 most-similar
    * OTHER-label vectors per query — exact cosine, full oracle replay. */
  private def annHardNegatives: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 5), 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Matryoshka two-phase retrieval: 16-dim prefix scan → 50-candidate
    * pool → exact full-dim re-rank. The oracle replays BOTH phases, so
    * the check is exact whatever the prefix's recall happens to be. */
  private def annMatryoshka: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.matryoshkaTopK(emb, emb.filter(col("vec_id") < 5), 5,
        prefixDims = 16, shortlist = 50)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Near-dup pairs via deterministic ball-cover candidate pruning — NO
    * row-level cartesian anywhere in the plan (PlanSpec-asserted): the
    * only quadratic object is the broadcast nlist² cell-pair table, and
    * completeness vs the all-pairs form is a triangle-inequality theorem
    * (see Similarity.nearDupPairsBallCover), not a probabilistic recall
    * argument — sign-LSH provably cannot pin equality on this corpus,
    * whose qualifying pairs sit at cosine 0.40–0.51 with random pairs at
    * ~N(0, 1/8) (no similarity gap → no usable band arithmetic). */
  private def annNearDupPairs: Q = (s, d) =>
    Similarity.nearDupPairsBallCover(Tables.embeddings(s, d), 0.4, nlist = 16)
      .orderBy(col("id_a"), col("id_b"))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540
    * — public paper): embedding-space near-duplicate graph → connected
    * components → one deterministic representative (min vec_id) per
    * component. Both stages are the scale paths already proven
    * elsewhere: pairs come from the ball-cover plan (no cartesian,
    * PlanSpec-asserted; completeness by triangle inequality) and
    * components from O(log diameter) pointer-jumping — so the composed
    * corpus-level semantic dedup a training pipeline runs before
    * tokenization inherits both scale arguments, and DuckDB replays the
    * whole thing as exact cosine edges + a recursive-CTE closure. */
  private def semdedupKeepers: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    // maxIterations 64: at threshold 0.4 this corpus's near-dup graph has
    // a sparse giant component (avg degree ~2), whose diameter grows with
    // corpus size — pointer jumping doubles reach per round, so 64 rounds
    // cover ANY diameter a physical corpus can have (2^64), i.e. the
    // declared query iterates to convergence (matching the oracle's full
    // recursive closure); the cost only accrues while labels still
    // change (the loop exits on converged counts, it never pads) and a
    // non-converged exit still throws loudly rather than electing
    // different keepers
    Dedup.clusterNearDups(
        Similarity.nearDupPairsBallCover(emb, 0.4, nlist = 16)
          .select(col("id_a"), col("id_b")),
        emb.select(col("vec_id")), idCol = "vec_id", maxIterations = 64)
      .filter(col("id") === col("cluster"))
      .select(col("id").as("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** The PRODUCTION SemDeDup shape (Abbas et al. 2023's published
    * recipe): k-means cells, pairs scored only WITHIN a cell —
    * O(n·cellSize) scored pairs, the measured-sublinear path a 100 TB
    * deployment actually runs (SCALE_r09/r10), vs the exact ball-cover
    * form above whose completeness theorem costs ~all-pairs on
    * isotropic corpora. Cell assignment is engine-defined (seeded
    * k-means) and EXPORTED as an oracle fixture (round 13): DuckDB
    * replays the within-cell exact-cosine edges, the recursive closure
    * and the keeper election — full hash oracle, with
    * [[semdedupCellsCheck]]'s contract row alongside. */
  private def semdedupCellsKeepers: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val assigned = Similarity.semDeDupCellAssignments(emb, nlist = 16)
      .localCheckpoint()
    if (fixturesEnabled)
      // the cell assignment IS the quantizer decision — within-cell
      // exact-cosine edges + the recursive min-label closure + keeper
      // election all replay declaratively in DuckDB
      assigned.select(col("neighbor_id").as("vec_id"), col("cell"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${oracleFixtureDir(d)}/semdedup_cells")
    // 64 rounds = convergence for any physical diameter (see
    // semdedupKeepers) — the oracle's recursive closure is unbounded,
    // so the engine side must never stop short of the fixpoint
    Dedup.clusterNearDups(
        Similarity.semDeDupPairsOnAssigned(assigned, 0.4)
          .select(col("id_a"), col("id_b")),
        emb.select(col("vec_id")), idCol = "vec_id", maxIterations = 64)
      .filter(col("id") === col("cluster"))
      .select(col("id").as("vec_id"))
      .orderBy(col("vec_id"))
  }

  private val semIncrWarehouses = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Incremental SemDeDup (round-14): the ADMISSION GATE — which
    * vectors of an incoming batch have a semantic near-dup among the
    * admitted corpus a PERSISTED IVF index covers, candidates
    * restricted to the batch vector's coarse cell (O(batch·cellSize)),
    * scored by EXACT cosine against the base table's raw vectors at the
    * index watermark. The quantizer's cell decisions (corpus side =
    * the codes table, batch side re-derived under the same centroids)
    * export as oracle fixtures; DuckDB replays the candidate
    * restriction, the exact cosine and the threshold — full hash
    * oracle, same decision-fixture pattern as ann_ivf_topk. */
  private def semdedupIncrementalPairs: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val wh = semIncrWarehouses.synchronized {
      semIncrWarehouses.getOrElseUpdate(d, {
        val w = Files.createTempDirectory("graft-semincr-wh").toString
        val cat = new graft.catalog.GraftCatalog(s, w)
        cat.createTable("si", "vecs")
        // admitted corpus = 3/4 of the table; the rest is the batch
        cat.commitAppend("si", "vecs", emb.filter(col("vec_id") % 4 =!= 0)
          .select(col("vec_id"), col("embedding")))
        Similarity.buildIvfPqIndexForTable(cat, "si", "six", "si", "vecs",
          nlist = 8)
        w
      })
    }
    val cat = new graft.catalog.GraftCatalog(s, wh)
    val batch = emb.filter(col("vec_id") % 4 === 0)
    if (fixturesEnabled) {
      val fix = oracleFixtureDir(d)
      cat.read("si", "six_codes")
        .select(col("neighbor_id").as("vec_id"), col("cell"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$fix/semincr_corpus_cells")
      Similarity.ivfCellAssignments(cat, "si", "six", batch)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$fix/semincr_batch_cells")
    }
    Similarity.semDeDupIncremental(cat, "si", "six", batch, tau = 0.4)
      .orderBy(col("incoming_id"), col("existing_id"))
  }

  /** Contract row pinning the production SemDeDup shape (typed empty
    * set, the ann_lsh_check pattern) — two THEOREMS on a bounded
    * 400-vector sample, so any row is a machinery regression:
    *  - `subset_of_exact`: every within-cells pair must appear in the
    *    sample's exact all-pairs set at the same threshold (both filter
    *    the same exact cosine; a violation means the cell join scored a
    *    pair wrong);
    *  - `equal_at_nlist1`: at nlist=1 (single cell = all pairs) the
    *    within-cells output must EQUAL the exact set — symmetric
    *    difference, both directions. */
  private def semdedupCellsCheck: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).filter(col("vec_id") < 400)
    def exactPairs: DataFrame = {
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
      a.join(broadcast(b), col("id_a") < col("id_b"))
        .filter(round(Similarity.cosine(col("va"), col("vb")), 4) >= 0.4)
        .select(col("id_a"), col("id_b"))
    }
    val exact = exactPairs.localCheckpoint()
    val cells = Similarity.semDeDupPairsWithinCells(emb, 0.4, nlist = 4)
      .select(col("id_a"), col("id_b"))
    val subset = cells.join(exact, Seq("id_a", "id_b"), "left_anti")
      .select(lit("subset_of_exact").as("check"), col("id_a"), col("id_b"))
    val one = Similarity.semDeDupPairsWithinCells(emb, 0.4, nlist = 1)
      .select(col("id_a"), col("id_b")).localCheckpoint()
    val symdiff = one.join(exact, Seq("id_a", "id_b"), "left_anti")
      .unionAll(exact.join(one, Seq("id_a", "id_b"), "left_anti"))
      .select(lit("equal_at_nlist1").as("check"), col("id_a"), col("id_b"))
    subset.unionAll(symdiff).orderBy(col("check"), col("id_a"), col("id_b"))
  }

  /** Oracle-fixture directory for quantizer DECISIONS (round-13): the
    * seeded quantizers are engine-defined, but their decisions — cell
    * assignments, probe lists, LSH buckets — exported as parquet let
    * DuckDB replay everything downstream (candidate restriction, exact
    * cosine, ranking, top-k) and grade the previously rows-only
    * ann_ivf_topk / ann_lsh_topk with full hash oracles. Keyed by sfDir
    * (one Verify process serves one sf); the oracle SQL (built AFTER
    * the queries ran — Verify dumps oracleSql last) interpolates the
    * recorded path. */
  private val fixtureDirs = scala.collection.concurrent.TrieMap.empty[String, String]
  private def oracleFixtureDir(sfDir: String): String =
    fixtureDirs.getOrElseUpdate(sfDir, {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(sfDir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      val p = s"${sys.props("java.io.tmpdir")}/graft-oracle-fixtures-$h"
      new java.io.File(p).mkdirs()
      p
    })
  // the sf dir Verify declared at start wins (a process serving more
  // than one sf would otherwise grade every fixture oracle against the
  // lexicographically-first recorded dir); recorded dirs are the
  // fallback for ad-hoc callers that never declared one
  private def fixtureDirForOracle: String =
    sys.props.get("spark.graft.oracle.sfdir").map(oracleFixtureDir)
      .orElse(fixtureDirs.values.toSeq.sorted.headOption)
      .getOrElse(s"${sys.props("java.io.tmpdir")}/graft-oracle-fixtures-unset")

  /** Verify-start hygiene: pin the oracle fixture dir to `sfDir` and
    * CLEAR it — the md5-keyed /tmp dir persists across runs, so a query
    * that fails before its export would otherwise silently grade
    * against a previous run's stale decisions. */
  def resetFixtures(sfDir: String): Unit = {
    sys.props("spark.graft.oracle.sfdir") = sfDir
    val root = java.nio.file.Paths.get(oracleFixtureDir(sfDir))
    if (java.nio.file.Files.isDirectory(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder())
        .filter(p => p != root)
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally s.close()
    }
  }

  /** Fixture export is a VERIFY concern (graft.Verify sets the flag):
    * bench/ad-hoc runs of the same queries must not pay fixture I/O
    * inside their timed bodies — it would distort the round-over-round
    * regression audit BENCH_FULL.json exists for. */
  private def fixturesEnabled: Boolean =
    sys.props.get("spark.graft.oracle.fixtures").contains("true")

  private def annIvfTopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    // decisions computed ONCE: the fixture export and the top-k consume
    // the same (probes, assignment) pair
    val (probes, assigned) = Similarity.ivfDecisions(emb, queries,
      nlist = 8, nprobe = 3)
    if (fixturesEnabled) {
      val fix = oracleFixtureDir(d)
      probes.coalesce(1).write.mode("overwrite").parquet(s"$fix/ivf_probes")
      assigned.select(col("neighbor_id"), col("cell"))
        .coalesce(1).write.mode("overwrite").parquet(s"$fix/ivf_assign")
    }
    Similarity.ivfTopKFrom(probes, assigned, queries, 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF probing EVERY cell (nprobe = nlist): the probe set covers the
    * whole corpus, so the result is provably identical to brute force —
    * which gives the IVF machinery (quantizer, cell assignment, probe
    * join, bounded-heap merge) a full cross-engine oracle. The pruned
    * configuration above carries its own decision-fixture oracle
    * (round 13) + recall contracts. */
  private def annIvfExact: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 5), 5, nlist = 8, nprobe = 8)
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN recall CONTRACT, two legs over 50 queries at k=10, oracle =
    * the TYPED EMPTY SET (the slo_hll_check pattern: quantizer cells
    * are engine-defined, the accuracy contract is not):
    *
    *  - `ivf_exact_total`: recall of IVF at nprobe = nlist against
    *    brute force must be EXACTLY 1.0 per query — a theorem (probing
    *    every cell is a corpus scan), so any row here means the IVF
    *    machinery itself (assignment, probe join, heap merge) broke;
    *  - `ivf_pruned_avg`: MACRO-average recall of the pruned
    *    production shape (nprobe=3 of nlist=8, ~3/8 of the corpus
    *    scanned) must stay >= 0.55. This corpus is isotropic random —
    *    the WORST case for cell pruning (no cluster structure, so
    *    per-query recall is noisy: observed min 0.2-0.3, avg
    *    0.63-0.67 across sf0.001/0.01/0.1) — which is why the pruned
    *    leg contracts the average, not a per-query floor. Deterministic
    *    (seeded quantizer), so a regression, not noise, is the only
    *    thing that can emit a row. */
  private def annRecallContract: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 50)
    val exact = Similarity.bruteForceTopK(emb, queries, 10).localCheckpoint()
    val full = Similarity.ivfTopK(emb, queries, 10, nlist = 8, nprobe = 8)
    val pruned = Similarity.ivfTopK(emb, queries, 10, nlist = 8, nprobe = 3)
    val legA = Similarity.recallAtK(full, exact)
      .filter(col("recall") < 1.0)
      .select(lit("ivf_exact_total").as("check"), col("query_id"), col("recall"))
    val legB = Similarity.recallAtK(pruned, exact)
      .agg(round(avg(col("recall")), 4).as("recall"))
      .filter(col("recall") < 0.55)
      .select(lit("ivf_pruned_avg").as("check"),
        lit(null).cast("long").as("query_id"), col("recall"))
    legA.unionAll(legB).orderBy(col("check"), col("query_id"))
  }

  /** LSH accuracy contract — typed-empty-set oracle (the
    * ann_recall_contract pattern): two THEOREMS about lshTopK vs brute
    * force at the same (queries, k), so any row is a machinery
    * regression, never recall noise:
    *  - `rank_dominance`: LSH candidates are a subset of the corpus,
    *    scored by the same quantized cosine, so the LSH rank-r score can
    *    never EXCEED the exact rank-r score (sorted-subset dominance);
    *  - `score_parity`: every returned (query, neighbor) pair's score
    *    equals the directly recomputed exact cosine — a bounded re-join
    *    (|queries|·k rows against the corpus), free next to the search.
    * This pins ann_lsh_topk's machinery independently of its
    * decision-fixture oracle (the bucket CONTENTS stay engine-defined;
    * the fixture makes them replayable, this row makes them provable). */
  private def annLshCheck: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 50)
    val lsh = Similarity.lshTopK(emb, queries, 10, planes = 6).localCheckpoint()
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
    val dominance = lsh
      .select(col("query_id"), col("rank"), col("score").as("lsh_score"))
      .join(exact.select(col("query_id"), col("rank"), col("score").as("exact_score")),
        Seq("query_id", "rank"))
      .filter(col("lsh_score") > col("exact_score"))
      .select(lit("rank_dominance").as("check"), col("query_id"),
        col("rank").cast("long").as("detail"))
    val parity = lsh
      .join(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
        "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), "query_id")
      .filter(round(Similarity.cosine(col("nv"), col("qv")), 4) =!= col("score"))
      .select(lit("score_parity").as("check"), col("query_id"),
        col("neighbor_id").cast("long").as("detail"))
    dominance.unionAll(parity)
      .orderBy(col("check"), col("query_id"), col("detail"))
  }

  /** PQ contracts for the PQ family (typed empty set — these theorem
    * rows predate and now complement the round-13 ADC decision-fixture
    * oracles):
    * quantizer codebooks are engine-defined (no SQL oracle can replay
    * seeded k-means), but two exact properties pin the machinery:
    *
    *  - `pq_refined_pool_top5`: at the high-fidelity shape
    *    (m=16/ksub=128 — the ann_pq_refined config), every exact top-5
    *    neighbor must surface in the k·16 ADC pool. Measured worst
    *    true-top-5 ADC rank is 25 on every test corpus (deterministic:
    *    seeded quantizer), so pool 80 carries >3× margin; the COARSE
    *    declared shape (m=8/ksub=16) deliberately has no such bound —
    *    measured misses ~15% of true top-5 at pool 80 on isotropic
    *    vectors, which is the expected physics, not a defect.
    *  - `ivfpq_fullprobe_equiv`: ivfPqTopK at nprobe = nlist must be
    *    ROW-IDENTICAL to flat pqTopK at the same (k, m, ksub, seed) — a
    *    theorem: both train identical codebooks (same seeded sample,
    *    collectSample is orderBy-id deterministic) and full probe scans
    *    every cell, so the cell-partition/probe-join/LUT path can only
    *    differ from the flat crossJoin path by being broken. This pins
    *    the declared coarse ann_pq_topk AND ann_ivfpq_topk configs. */
  private def annPqCheck: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 50)
    val exact = Similarity.bruteForceTopK(emb, queries, 5).localCheckpoint()
    val refined = Similarity.pqTopK(emb, queries, 80, m = 16, ksub = 128)
    val containment = exact.select(col("query_id"), col("neighbor_id"))
      .join(refined.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .select(lit("pq_refined_pool_top5").as("check"), col("query_id"),
        col("neighbor_id"))
    val pqCoarse = Similarity.pqTopK(emb, queries, 10, m = 8, ksub = 16)
    val ivfFull = Similarity.ivfPqTopK(emb, queries, 10,
      nlist = 8, nprobe = 8, m = 8, ksub = 16)
    val equiv = pqCoarse.select(col("query_id"), col("rank"),
        col("neighbor_id").as("n_pq"), col("score").as("s_pq"))
      .join(ivfFull.select(col("query_id"), col("rank"),
        col("neighbor_id").as("n_ivf"), col("score").as("s_ivf")),
        Seq("query_id", "rank"), "full_outer")
      .filter(col("n_pq").isNull || col("n_ivf").isNull ||
        col("n_pq") =!= col("n_ivf") || col("s_pq") =!= col("s_ivf"))
      .select(lit("ivfpq_fullprobe_equiv").as("check"), col("query_id"),
        coalesce(col("n_pq"), col("n_ivf")).as("neighbor_id"))
    containment.unionAll(equiv)
      .orderBy(col("check"), col("query_id"), col("neighbor_id"))
  }

  /** PQ with exact re-rank: a high-fidelity quantizer (m=16 subspaces ×
    * ksub=128 — 4-dim subspaces, still a 16-code row) ADC-ranks a pool of
    * k·16 candidates, then exact cosine re-scores only the pool. This
    * corpus is the hardest case for PQ — isotropic random vectors, where
    * the top-5 score boundary (~0.01 gaps) sits inside quantization
    * noise — yet the measured worst ADC rank of a true top-5 neighbor is
    * 25 across both test corpora (deterministic: fixed seed, fixed
    * arithmetic), so the 80-candidate pool provably contains the exact
    * top-k and the query carries the brute-force SQL oracle
    * (PipelineSpec additionally asserts equality with brute force). */
  private def annPqRefined: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.pqTopKRefined(emb, emb.filter(col("vec_id") < 5), 5,
        poolFactor = 16, m = 16, ksub = 128)
      .orderBy(col("query_id"), col("rank"))
  }

  private def annLshTopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    if (fixturesEnabled) {
      // the bucket DECISIONS as a fixture — scoring within a bucket is
      // exact quantized cosine DuckDB replays (see oracleFixtureDir)
      emb.select(col("vec_id"),
          Similarity.lshBucket(col("embedding"), 6).as("bucket"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${oracleFixtureDir(d)}/lsh_buckets")
    }
    Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), 5, planes = 6)
      .orderBy(col("query_id"), col("rank"))
  }

  private def annPqTopK: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val (topk, codesDf, cb) = Similarity.pqTopKWithDecisions(
      emb, queries, 5, m = 8, ksub = 16)
    if (fixturesEnabled) {
      val fix = oracleFixtureDir(d)
      codesDf.coalesce(1).write.mode("overwrite").parquet(s"$fix/pq_codes")
      cb.toDF("j", "c", "vec").coalesce(1).write.mode("overwrite")
        .parquet(s"$fix/pq_codebooks")
    }
    topk.orderBy(col("query_id"), col("rank"))
  }

  /** IVF-PQ composition — the billion-vector serving layout (cell-pruned
    * scan of m-byte codes, broadcast LUTs, no raw vectors on the read
    * path). Quantizer decisions exported as an oracle fixture
    * (round 13 — DuckDB replays the full ADC pipeline); recall vs brute
    * force is ScalaTest-checked in PipelineSpec. */
  private def annIvfPqTopK: Q = (s, d) => {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 5)
    val (topk, codesDf, cb, probes) = Similarity.ivfPqTopKWithDecisions(
      emb, queries, 5, nlist = 8, nprobe = 3, m = 8, ksub = 16)
    if (fixturesEnabled) {
      val fix = oracleFixtureDir(d)
      codesDf.coalesce(1).write.mode("overwrite").parquet(s"$fix/ivfpq_codes")
      cb.toDF("j", "c", "vec").coalesce(1).write.mode("overwrite")
        .parquet(s"$fix/ivfpq_codebooks")
      probes.coalesce(1).write.mode("overwrite").parquet(s"$fix/ivfpq_probes")
    }
    topk.orderBy(col("query_id"), col("rank"))
  }

  // ---------------- curation ----------------

  /** Benchmark contamination: eval set = doc_id ≡ 0 (mod 97); flag train
    * docs sharing ≥2 distinct lowercased word 3-grams with an eval doc. */
  private def textContamination: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Curation.contamination(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3, minShared = 2)
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  private def textRepetition: Q = (s, d) =>
    Curation.repetitionStats(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Gopher document-quality rule bundle: measurements + per-rule flags
    * + the conjunctive keep decision. minWords=50 lands inside this
    * corpus's word-count range so both outcomes occur. */
  private def textGopherRules: Q = (s, d) =>
    Curation.gopherRules(Tables.documents(s, d), "doc_id", "text", minWords = 50)
      .orderBy(col("doc_id"))

  /** fastText-shaped hashed-bigram classifier score with deterministic
    * md5-derived integer weights (exact cross-engine arithmetic; the
    * trained-weights path is ScalaTest-covered in PipelineSpec). */
  private def textClassifierScore: Q = (s, d) =>
    Curation.hashedClassifierScore(Tables.documents(s, d), "doc_id", "text",
        buckets = 1024)
      .orderBy(col("doc_id"))

  /** ExactSubstr-style span removal: corpus-wide first-occurrence dedup
    * of 3-token spans, documents rebuilt from surviving spans. */
  private def dedupSpanRewrite: Q = (s, d) =>
    Dedup.spanDedupRewrite(Tables.documents(s, d), "doc_id", "text", window = 3)
      .orderBy(col("doc_id"))

  /** End-to-end entity resolution: fuzzy pairs (symmetric-deletion
    * blocked edit-distance join) → connected components (pointer
    * jumping) → one canonical record per entity cluster (min-id member,
    * whose id IS the converged cluster label). The full ER pipeline a
    * warehouse runs on customer/supplier master data, composed from the
    * two proven stages so it inherits both scale arguments. */
  private def dedupEntityResolution: Q = (s, d) => {
    val sup = Tables.supplier(s, d).select(col("s_suppkey"), col("s_name"))
    val pairs = Dedup.editDistance1Pairs(sup, "s_suppkey", "s_name")
      .select(col("id_a"), col("id_b"))
    Dedup.clusterNearDups(pairs, sup.select(col("s_suppkey")), idCol = "s_suppkey")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("members"))
      .join(sup.select(col("s_suppkey").as("cluster"),
        col("s_name").as("canonical_name")), "cluster")
      .select(col("cluster"), col("members"), col("canonical_name"))
      .orderBy(col("cluster"))
  }

  /** Inverted-index build over the corpus: one posting-list row per
    * token, postings sorted ascending (Retrieval.invertedIndex). The
    * DECLARED output flattens the posting list to a space-joined string:
    * the driver's comparator row-sorts via pandas, which cannot hash
    * list cells — the typed array form stays the library surface
    * (text_index_serve consumes it; RetrievalSpec pins it). */
  private def textInvertedIndex: Q = (s, d) =>
    Retrieval.invertedIndex(Tables.documents(s, d), "doc_id", "text")
      .withColumn("postings",
        array_join(transform(col("postings"), x => x.cast("string")), " "))
      .orderBy(col("token"))

  /** Conjunctive query served FROM the inverted index — work is
    * O(Σ df(term)), never a corpus scan; the oracle replays the same
    * conjunction as a direct scan, proving index-serve ≡ scan. */
  private def textIndexServe: Q = (s, d) => {
    val idx = Retrieval.invertedIndex(Tables.documents(s, d), "doc_id", "text")
    Retrieval.serveConjunctive(idx, Seq("spark", "vector", "merge"))
      .orderBy(col("doc_id"))
  }

  /** Suffix ranks by prefix doubling over the first 100 docs, k=8:
    * three doubling rounds (each one equi-join + one DISTRIBUTED
    * dense-rank — no global window) must reproduce exactly the dense
    * rank DuckDB computes directly on the 8-char prefixes. The oracle
    * therefore verifies the whole Manber–Myers ladder, not just the
    * final reshape. */
  private def dedupSuffixRanks: Q = (s, d) =>
    Dedup.suffixRanks(
        Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text", k = 8)
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("rank"))
      .orderBy(col("doc_id"), col("pos"))

  /** End-to-end curation v2 — the fuzzy/span-level successor to
    * pipeline_curation: Gopher rule gate → corpus-wide span-dedup
    * REWRITE (first-occurrence 3-token spans; the dedup acts on the
    * GATED corpus, so the oracle replays the same ordering) → domain
    * mixture sampling over the REWRITTEN token counts. Every stage
    * reuses an independently-oracled operator; this query pins their
    * composition. */
  private def pipelineCurationV2: Q = (s, d) => {
    // same map-side gate/rewrite spread as pipelineCuration
    val docs = docsSpread(s, d)
    val gated = docs.join(
      Curation.gopherRules(docs, "doc_id", "text", minWords = 50)
        .filter(col("keep")).select("doc_id"), "doc_id")
    val rewritten = Dedup.spanDedupRewrite(gated, "doc_id", "text", window = 3)
    val tok = rewritten.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .select(col("doc_id"), col("source"),
        when(col("clean_text") === "", lit(0))
          .otherwise(size(split(col("clean_text"), " "))).cast("int").as("n_tokens"))
    val mixture = (0 until 20).map(i => s"src$i" -> (i + 1) / 210.0)
    Curation.mixtureSample(tok, "source", "doc_id", "n_tokens", mixture,
        totalBudget = 5000L)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Greedy k-center coreset (6 centers) over the embeddings corpus —
    * the diversity-coverage sampler; oracle unrolls all six
    * farthest-point rounds with materialized CTEs. */
  private def annKcenter: Q = (s, d) =>
    Similarity.kCenterSelect(Tables.embeddings(s, d), k = 6)
      .orderBy(col("rank"))

  /** Epoch plan at a 200k-token target over the 1..21/210 mixture: most
    * sources repeat (full epochs) with a deterministic partial pass —
    * the data-constrained pretraining repetition planner. */
  private def sampleEpochs: Q = (s, d) => {
    val mixture = (0 until 20).map(i => s"src$i" -> (i + 1) / 210.0)
    Curation.epochPlan(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens")),
        "source", "doc_id", "n_tokens", mixture, totalBudget = 200000L)
      .orderBy(col("source"))
  }

  /** Span-dedup savings per source: tokens before vs after the
    * corpus-wide first-occurrence rewrite — "which domains are made of
    * boilerplate" (the report that justifies the dedup pass). */
  private def textDedupSavings: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Dedup.spanDedupRewrite(docs, "doc_id", "text", window = 3)
      .join(docs.select(col("doc_id"), col("source"),
        TA.tokenCount(col("text")).as("n_before")), "doc_id")
      .withColumn("n_after",
        when(col("clean_text") === "", lit(0))
          .otherwise(size(split(col("clean_text"), " "))).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("n_before")).as("tokens_before"),
        sum(col("n_after")).as("tokens_after"),
        round(lit(1.0) - sum(col("n_after")).cast("double") / sum(col("n_before")), 4)
          .as("removed_frac"))
      .orderBy(col("source"))
  }

  /** Domain distinctiveness: KL(source LM || corpus LM) over add-one
    * smoothed unigrams — which domains carry signal vs volume. */
  private def textDomainKl: Q = (s, d) =>
    Curation.domainKl(Tables.documents(s, d), "source", "doc_id", "text")
      .orderBy(col("source"))

  /** Dataset datasheet: the one-row-per-source corpus report shipped
    * alongside a training dataset — volume (docs, tokens), exact-dup
    * rate (1 - distinct texts / docs), and mean quality. One scan, one
    * aggregate; every column is an audit hook into a dedicated deeper
    * query (dedup_exact_groups, text_quality_source, sample_mixture). */
  private def textCorpusReport: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("docs"),
        sum(TA.tokenCount(col("text"))).as("tokens"),
        round(lit(1.0) - countDistinct(col("text")).cast("double") / count(lit(1)), 4)
          .as("exact_dup_rate"),
        round(avg(TA.qualityScore(col("text"))), 4).as("avg_quality"))
      .orderBy(col("source"))

  /** Per-source OOV rate under a deliberately tight top-16 vocabulary —
    * the tokenizer-coverage report run before committing a vocab: a
    * source whose OOV rate spikes will train as id-0 noise. Rides
    * vocabEncode's per-doc rollup; one extra source join + aggregate. */
  private def textOovRate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Curation.vocabEncode(docs, "doc_id", "text", vocabSize = 16)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tokens"),
        sum(col("n_oov")).as("oov"),
        // integer-scaled rounding for driver-exact float bits (see
        // textBoilerplate's frac)
        (round(sum(col("n_oov")) * 10000.0 / sum(col("n_tokens"))) / 10000.0)
          .as("oov_rate"))
      .orderBy(col("source"))
  }

  /** Fuzzy record-linkage join at edit distance <= 1 over supplier
    * names: symmetric-deletion (SymSpell) blocking makes the candidate
    * generator an equi-join that is COMPLETE by theorem — the exact
    * levenshtein verify only discards false positives (see
    * Dedup.editDistance1Pairs for the proof and the 100 TB shape). */
  private def dedupFuzzyJoin: Q = (s, d) =>
    Dedup.editDistance1Pairs(
        Tables.supplier(s, d).select(col("s_suppkey"), col("s_name")),
        "s_suppkey", "s_name")
      .select(col("id_a"), col("id_b"), col("s_a"), col("s_b"),
        col("dist").cast("int").as("dist"))
      .orderBy(col("id_a"), col("id_b"))

  /** First-occurrence 3-gram novelty per document — the
    * boilerplate/template-spam signal pairwise dedup misses. */
  private def textNovelty: Q = (s, d) =>
    Curation.noveltyScore(Tables.documents(s, d), "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))

  /** Per-source boilerplate-prefix report: the most common leading
    * 3-gram per source and the fraction of that source's docs carrying
    * it — the header/template detector that runs BEFORE span-rewrite
    * dedup decides what to cut. Prefix extraction is a narrow
    * projection; per-(source, prefix) counts partial-aggregate; the
    * argmax is a bounded per-source window over distinct prefixes. */
  private def textBoilerplate: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    val docs = Tables.documents(s, d).select(col("source"),
      array_join(slice(split(lower(col("text")), " "), 1, 3), " ").as("prefix"))
    docs.groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_with_prefix"))
      .withColumn("n_docs", sum(col("n_with_prefix")).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("n_with_prefix").desc, col("prefix"))))
      .filter(col("rn") === 1)
      .select(col("source"), col("prefix").as("top_prefix"),
        col("n_with_prefix"), col("n_docs"),
        // integer-scaled rounding: scale to 1e4 BEFORE the scale-0 round
        // so both engines round the same double (round(x,4) computes a
        // different last-ulp double in Spark's BigDecimal path vs
        // DuckDB's multiply-round-divide — the driver hashes exact bits)
        (round(col("n_with_prefix") * 10000.0 / col("n_docs")) / 10000.0).as("frac"))
      .orderBy(col("source"))
  }

  /** Normalization-collision dup groups: fingerprint groups whose
    * members normalize identically but differ RAW — exactly the
    * trivial variants (case/punctuation/spacing) raw exact-dedup
    * misses. One fingerprint aggregate with two counts. */
  private def dedupNormCollisions: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(Curation.normalize(col("text"))).as("norm_fp"))
      .agg(min(col("doc_id")).as("keeper"),
           count(lit(1)).as("copies"),
           countDistinct(col("text")).as("distinct_raw"))
      .filter(col("copies") >= 2 && col("distinct_raw") >= 2)
      .orderBy(col("keeper"))

  /** Vocabulary build (top-512 tokens) + integer encoding of every
    * document — the step between curation and sequence packing. The
    * DECLARED output space-joins the id sequence (driver's pandas
    * row-sort cannot hash list cells); CurationSpec keeps the typed
    * array<int> contract. */
  private def textVocabEncode: Q = (s, d) =>
    Curation.vocabEncode(Tables.documents(s, d), "doc_id", "text", vocabSize = 512)
      .withColumn("ids",
        array_join(transform(col("ids"), x => x.cast("string")), " "))
      .orderBy(col("doc_id"))

  /** Incremental novelty of the doc_id % 4 == 0 batch against the
    * admitted rest — the streaming novelty form (the admitted gram set
    * is a persisted index at scale; see Curation.noveltyAgainst). */
  private def textNoveltyIncr: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Curation.noveltyAgainst(
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
  }

  /** BM25 retrieval of the 10 best documents for a fixed 3-term query.
    * Terms chosen from the corpus's common vocabulary so tf (not mere
    * presence) drives the ranking. Corpus stats (N, avgdl) are two
    * driver scalars; the term filter runs before the tf shuffle; top-k
    * is TakeOrderedAndProject. */
  private def textBm25TopK: Q = (s, d) =>
    Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
      Seq("vector", "scan", "merge"), k1 = 1.2, b = 0.75, topK = 10)

  /** Hybrid retrieval: RRF fusion of the BM25 lexical top-50 and the
    * exact-cosine dense top-50 for query vector 0 (vec_id ↔ doc_id in
    * the testdata). Rank-only fusion — no score calibration between the
    * two retrievers — and both input lists are bounded top-k, so the
    * fusion stage is corpus-size-independent by construction. */
  private def textRrfFusion: Q = (s, d) => {
    val lex = Retrieval.bm25TopK(Tables.documents(s, d), "doc_id", "text",
      Seq("vector", "scan", "merge"), topK = 50)
    val emb = Tables.embeddings(s, d)
    val sem = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0), 50)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    Retrieval.rrfFuse(lex, sem, "doc_id", kConst = 60, topK = 10)
  }

  /** Per-source rank-quantile quality gate: keep documents at or above
    * their source's p75 quality score (rank-based threshold — identical
    * in both engines, no percentile interpolation semantics). */
  private def sampleQuantileFilter: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        TA.qualityScore(col("text")).as("q"))
    Retrieval.quantileGate(docs, "doc_id", "q", "source", q = 0.75)
      .orderBy(col("doc_id"))
  }

  /** 3-iteration PageRank over the symmetrized n-gram similarity graph
    * (same bounded edge set dedup_cluster_keepers walks): centrality
    * within duplicate clusters, the "which copy is canonical" signal.
    * Isolated docs are dangling vertices, so the scalar dangling-mass
    * path is exercised on every iteration. */
  private def graphPagerank: Q = (s, d) => {
    val pairs = ngramPairs(s, d).select(col("id_a"), col("id_b"))
    val nodes = Tables.documents(s, d).filter(col("doc_id") < 100)
      .select(col("doc_id").as("id"))
    GraphOps.pageRank(GraphOps.symmetrize(pairs, "id_a", "id_b"), nodes, iters = 3)
      .orderBy(col("id"))
  }

  /** Containment (overlap-coefficient) near-dup pairs over distinct
    * word trigrams: catches a short document quoted (nearly) whole
    * inside a longer one, where symmetric Jaccard stays below any dedup
    * threshold. Candidates come from the gram equi-join with the maxDf
    * boilerplate cut — no cartesian. Trigrams, not bigrams: candidate
    * cost is Σ df² over grams, and on this narrow-vocabulary corpus
    * bigram df runs in the hundreds while trigram df stays ~1. */
  private def dedupContainmentPairs: Q = (s, d) =>
    Dedup.containmentPairs(Tables.documents(s, d), "doc_id", "text",
        n = 3, threshold = 0.6, maxDf = 1000)
      .orderBy(col("id_a"), col("id_b"))

  /** Leakage-safe train/val/test split: near-dup clusters (connected
    * components over the n-gram similarity graph) are assigned AS
    * UNITS — every member inherits the md5 split of its cluster label,
    * so a near-duplicate of a training document can never land in test
    * (the contamination mode per-document hashing cannot prevent).
    * Composes the two proven stages: pointer-jumping components +
    * assignSplit keyed on the cluster id. */
  private def sampleLeakageSplit: Q = (s, d) => {
    val ids = Tables.documents(s, d).filter(col("doc_id") < 100).select("doc_id")
    val labels = Dedup.clusterNearDups(
        ngramPairs(s, d).select(col("id_a"), col("id_b")), ids)
      .withColumnRenamed("id", "doc_id")
    // clusterNearDups labels only pair-touched ids; untouched docs are
    // their own (singleton) cluster
    val full = ids.join(labels, Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    Curation.assignSplit(full, "cluster",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Per-node triangle counts on the n-gram similarity graph (degree-
    * ordered compact-forward join): separates triangle-dense true dup
    * cliques from triangle-free transitive chains before clustering. */
  private def graphTriangles: Q = (s, d) => {
    val pairs = ngramPairs(s, d).select(col("id_a"), col("id_b"))
    val nodes = Tables.documents(s, d).filter(col("doc_id") < 100)
      .select(col("doc_id").as("id"))
    GraphOps.triangleCounts(pairs, nodes).orderBy(col("id"))
  }

  /** 2-core of the user co-occurrence graph (users sharing an
    * (event_type, minute) activity bucket) — peeled to FIXPOINT; the
    * engine asserts convergence, and the oracle's 6 unrolled peel
    * rounds exceed the 3 this corpus needs (extra rounds are no-ops at
    * the fixpoint, so oracle == engine for any round count >= depth).
    * The co-occurrence projection is an equi-join on the bucket key —
    * per-bucket quadratic, bounded by per-minute activity, the standard
    * shape for co-occurrence graphs (a hot bucket is an AQE skew key,
    * not a cartesian). */
  private def graphKcore: Q = (s, d) => {
    val b = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        date_trunc("minute", col("ts")).as("m"))
      .distinct()
    val pairs = b.as("a").join(b.as("b"),
        col("a.event_type") === col("b.event_type") &&
        col("a.m") === col("b.m") &&
        col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("id_a"), col("b.user_id").as("id_b"))
      .distinct()
    // maxRounds pinned to the oracle's unroll count: if a future fixture
    // needs deeper peeling the ENGINE fails loudly here instead of
    // silently diverging from the 8-round oracle replay
    GraphOps.kCore(pairs, k = 2, maxRounds = KcoreOracleRounds).orderBy(col("id"))
  }

  /** Per-label centroid drift between the even-id (reference) and
    * odd-id (current) halves of the embeddings table — the staleness
    * monitor for ANN indexes and classifiers. */
  private def annDrift: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.centroidDrift(
        emb.filter(col("vec_id") % 2 === 0), emb.filter(col("vec_id") % 2 === 1))
      .orderBy(col("label"))
  }

  /** Top-5 neighbors under int8-quantized cosine — the reduced-IO scan
    * path. Scales cancel in the cosine, so scoring is exact integer
    * arithmetic and the oracle replays it bit-for-bit. */
  private def annInt8TopK: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.int8TopK(emb, emb.filter(col("vec_id") < 5), k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** kNN label vote over the embeddings table: held-out queries
    * (vec_id < 10) classified by their 5 nearest corpus neighbors. */
  private def annKnnClassify: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.knnClassify(
        emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10), 5)
      .orderBy(col("query_id"))
  }

  /** Deterministic replay of the streaming ingest loop the driver can
    * hash-check: corpus → FileTopic → quality gate → watermark-bounded
    * streaming dedup → catalog sink (exactly-once batch commits), read
    * back from the catalog. Which COPY of a duplicate survives is
    * arrival-order-defined, so the declared output is the admitted
    * distinct-text set — equal to the batch gate+dedup of the same rows
    * by the stream≡batch law StreamingSpec proves. The driver-side
    * publish loop is replay-fixture plumbing standing in for a real
    * broker, not a scale path. */
  private def streamIngestReplay: Q = (s, d) => {
    import graft.streaming.{CatalogStreamSink, FileTopic, StreamingDedup}
    import graft.catalog.GraftCatalog
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-replay")
    val topic = new FileTopic(dir.resolve("topic").toString, "docs", partitions = 2)
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    // DISTRIBUTED produce — no driver collect: each task is the single
    // writer for one topic partition and appends one segment, so the
    // publish is O(corpus/partitions) per task at any scale (the
    // driver-collect fixture this replaces was the one declared query
    // that could not survive 100x)
    FileTopic.produceDistributed(
      Tables.documents(s, d).select(col("doc_id"), col("text")),
      dir.resolve("topic").toString, "docs", partitions = 2, tsMs = base): Unit
    val cat = new GraftCatalog(s, dir.resolve("cat").toString)
    cat.createTable("cur", "docs")
    val gated = topic.streamDF(s)
      .select(col("key").cast("long").as("doc_id"), col("value").as("text"),
        col("eventTime"))
      .filter(graft.pipeline.TextAnalysis.qualityScore(col("text")) >= 0.5)
    val q = StreamingDedup.dropExactDups(gated, timeCol = "eventTime")
      .select("doc_id", "text")
      .writeStream
      .foreachBatch(CatalogStreamSink.foreachBatchCommit(cat, "cur", "docs", "ing"))
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    cat.read("cur", "docs").select("text").distinct().orderBy("text")
  }

  /** The SOCKET-TRANSPORT sibling of [[streamIngestReplay]]: the same
    * gate → watermark dedup → exactly-once catalog sink loop, but the
    * corpus is produced THROUGH the TCP broker twin
    * ([[graft.streaming.TopicServer]]) — each Spark task holds one
    * producer connection and an idempotent batch id (producer-epoch
    * dedup), the broker owns the log and serializes same-partition
    * appends server-side. Green = the ingest loop runs end-to-end over
    * the wire seam a real deployment has, with the identical oracle. */
  private def streamIngestSocket: Q = (s, d) => {
    import graft.streaming.{CatalogStreamSink, FileTopic, StreamingDedup, TopicClient, TopicServer}
    import graft.catalog.GraftCatalog
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-socket")
    val topic = new FileTopic(dir.resolve("topic").toString, "docs", partitions = 2)
    val server = new TopicServer(topic)
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    try {
      TopicClient.produceDistributed(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        "127.0.0.1", server.boundPort, tsMs = base): Unit
      val cat = new GraftCatalog(s, dir.resolve("cat").toString)
      cat.createTable("cur", "docs")
      val gated = topic.streamDF(s)
        .select(col("key").cast("long").as("doc_id"), col("value").as("text"),
          col("eventTime"))
        .filter(graft.pipeline.TextAnalysis.qualityScore(col("text")) >= 0.5)
      val q = StreamingDedup.dropExactDups(gated, timeCol = "eventTime")
        .select("doc_id", "text")
        .writeStream
        .foreachBatch(CatalogStreamSink.foreachBatchCommit(cat, "cur", "docs", "ing"))
        .option("checkpointLocation", dir.resolve("ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      cat.read("cur", "docs").select("text").distinct().orderBy("text")
    } finally server.stop()
  }

  /** Corpus domain clustering: 2 deterministic Lloyd iterations, k=8,
    * over the embeddings table (the SemDeDup / mixture-balancing
    * preprocessing stage); oracle replays both unrolled iterations. */
  private def annKmeansAssign: Q = (s, d) =>
    Similarity.kmeansAssign(Tables.embeddings(s, d), k = 8, iters = 2)
      .orderBy(col("vec_id"))

  /** Embedding PCA: top-2 principal directions by 10 deterministic
    * power-method rounds (+ one deflation), projected per row. The
    * oracle replays mean, covariance, all 20 iterations, and the
    * deflation — every stage quantized for engine portability. */
  private def annPcaProject: Q = (s, d) =>
    Similarity.pcaPowerProject(Tables.embeddings(s, d), nComponents = 2, iters = 10)
      .orderBy(col("vec_id"))

  /** Off-topic pruning: cosine of every embedding against its label's
    * mean direction; rows below 0.1 flagged (isotropic corpus, so the
    * flag actually fires). Oracle replays centroid + cosine exactly. */
  private def annDomainOutliers: Q = (s, d) =>
    Similarity.domainOutliers(Tables.embeddings(s, d), threshold = 0.1)
      .orderBy(col("vec_id"))

  /** Quality-aware dedup: same near-dup components as
    * dedup_cluster_keepers, but each cluster keeps its highest-quality
    * member (ties to lower id) — the curation-grade keeper policy. */
  private def dedupBestKeepers: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
    Dedup.bestQualityKeepers(
        ngramPairs(s, d).select(col("id_a"), col("id_b")),
        docs.select(col("doc_id"), TA.qualityScore(col("text")).as("quality")),
        "doc_id", "quality")
      .orderBy(col("doc_id"))
  }

  /** Incremental dedup against the PERSISTED LSH index — the continuous
    * ingest shape: the admitted corpus (doc_id % 4 != 0) is indexed
    * ONCE into catalog tables (band join-index + shingle verify-sets);
    * the new batch (doc_id % 4 == 0) pays O(batch) signature work plus
    * one equi-join against the index. Same banding arithmetic as
    * dedup_incremental_pairs, so the verified output equals the exact
    * cross-set Jaccard pair set — the two queries share one oracle. */
  // the built index is a PERSISTED fixture (catalog tables on disk) —
  // one build per (sf dir, session), like CatalogQueries.fixtures: the
  // operator's contract is "corpus indexed ONCE, each ingest pays
  // O(batch)", so the declared query times the serve path, not a
  // per-run rebuild (the rebuild cost itself is what
  // dedup_incremental_pairs measures). Session-keyed because the
  // catalog value is bound to the session that built it (ADVICE r7).
  private val lshIndexCats =
    scala.collection.concurrent.TrieMap.empty[String, graft.catalog.GraftCatalog]

  private def dedupLshIndex: Q = (s, d) => {
    import graft.catalog.GraftCatalog
    val docs = Tables.documents(s, d)
    val cat = lshIndexCats.getOrElseUpdate(CatalogQueries.sessionKey(s, d), {
      val c = new GraftCatalog(s,
        java.nio.file.Files.createTempDirectory("graft-lshix").toString)
      Dedup.buildLshIndexTables(c, "dd", "ix", docs.filter(col("doc_id") % 4 =!= 0),
        "doc_id", "text", numHashes = 32, shingleK = 2, bands = 16)
      c
    })
    Dedup.dedupAgainstLshIndex(cat, "dd", "ix", docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", numHashes = 32, shingleK = 2, bands = 16, threshold = 0.5)
      .orderBy(col("incoming_id"), col("existing_id"))
  }

  /** Diversity-preserving dedup: the TWO highest-quality members per
    * near-dup cluster (k=1 is dedup_best_keepers) — template families
    * keep some legitimate variation instead of one representative. */
  private def dedupTopkKeepers: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 100)
    Dedup.topKQualityKeepers(
        ngramPairs(s, d).select(col("id_a"), col("id_b")),
        docs.select(col("doc_id"), TA.qualityScore(col("text")).as("quality")),
        "doc_id", "quality", k = 2)
      .orderBy(col("doc_id"))
  }

  /** Trained-classifier path end-to-end: 2 full-batch GD iterations on
    * labels planted as doc_id parity, then scoreWithWeights over the
    * same corpus. Deterministic by design (full-batch gradient, fixed
    * iteration count, no randomness), so the DuckDB oracle replays the
    * two unrolled iterations exactly. */
  private def textClassifierTrained: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val labeled = docs.withColumn("label", (col("doc_id") % 2).cast("int"))
    val w = Curation.trainHashedClassifier(labeled, "doc_id", "text", "label",
      buckets = 1024, iters = 2, lr = 50.0)
    Curation.scoreWithWeights(docs, w, "doc_id", "text", buckets = 1024)
      .select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("doc_id"))
  }

  private def textLmQuality: Q = (s, d) =>
    Curation.lmQualityScore(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  private def textTfidfTerms: Q = (s, d) =>
    Curation.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
      .orderBy(col("doc_id"), col("rank"))

  /** Corpus heavy-hitter bigrams: top-20 lowercased word 2-grams by
    * total occurrence count, document frequency alongside. */
  private def textTopNgrams: Q = (s, d) =>
    Curation.topNgrams(Tables.documents(s, d), "doc_id", "text",
      n = 2, k = 20, lowercase = true)

  /** Interpolated bigram-LM fluency score over the whole corpus
    * (λ=0.7 bigram, 0.3 unigram floor). */
  private def textBigramLm: Q = (s, d) =>
    Curation.bigramLmScore(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Token-window chunking: 32-token chunks, stride 24 (8-token
    * overlap) — every doc covered, only the last chunk short. */
  private def textChunks: Q = (s, d) =>
    Curation.chunkDocuments(Tables.documents(s, d), "doc_id", "text",
      size = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Exact-substring duplicate pairs: documents sharing >= 1 distinct
    * lowercased 6-token anchor gram (maxDf 1000 — no gram in this
    * corpus is that common, so the declared cut is a no-op here and
    * the output equals the uncapped exact answer). */
  private def dedupSubstringPairs: Q = (s, d) =>
    Dedup.exactSubstringPairs(Tables.documents(s, d), "doc_id", "text",
      n = 6, minShared = 1, maxDf = 1000)
      .orderBy(col("id_a"), col("id_b"))

  /** Round-robin curriculum interleave: the training order that
    * de-clusters sources — pass p carries each source's p-th document,
    * so no contiguous run of the stream is dominated by one domain (the
    * balanced dual of sample_global_shards' random order). One window
    * shuffle on the source key; at scale the global order is realized
    * by range-partitioning on (pass, source) — a sort the writer pays
    * once, exactly like the shard manifests. */
  private def sampleInterleave: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("pass", row_number().over(w))
      .orderBy(col("pass"), col("source"), col("doc_id"))
  }

  /** Uniform-over-labels subset of the embedding corpus (min-class-count
    * per label, md5-ordered prefix — exact cross-engine tie-break). */
  private def sampleBalanced: Q = (s, d) =>
    Curation.balancedSample(
        Tables.embeddings(s, d).select(col("vec_id"), col("label")),
        "label", "vec_id")
      .orderBy(col("vec_id"))

  private def sampleStratified: Q = (s, d) =>
    Curation.stratifiedSample(Tables.documents(s, d), "source", "doc_id", 10)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  /** Variance-optimal (Neyman) allocation of a 100-row budget across
    * sources by N_h·σ_h of n_chars; md5-rank selection within strata. */
  private def sampleNeyman: Q = (s, d) =>
    Curation.neymanSample(Tables.documents(s, d), "source", "doc_id",
        "n_chars", totalN = 100)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))

  private def sampleTokenBudget: Q = (s, d) =>
    Curation.tokenBudgetSample(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens")),
        "source", "doc_id", "n_tokens", budget = 600)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))

  /** The whole curation pipeline as ONE composition — the realistic
    * "corpus → training set" path: quality gate → exact dedup →
    * benchmark-decontamination → per-source token budget. Every stage is
    * an operator with its own oracle elsewhere; this query proves they
    * compose (one DuckDB CTE chain replays all four stages). */
  private def pipelineCuration: Q = (s, d) => {
    // quality-score gate + fingerprints are map-side over the scan —
    // spread the single-split local corpus first (ScaleOut scaladoc)
    val docs = docsSpread(s, d)
    val evalSet = docs.filter(col("doc_id") % 97 === 0)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
    val quality = train.filter(TA.qualityScore(col("text")) >= 0.5)
    val deduped = Dedup.exactDedup(quality, "text", "doc_id")
    val contaminated = Curation.contamination(deduped, evalSet, "doc_id", "text", n = 3, minShared = 2)
      .select(col("train_doc").as("doc_id")).distinct()
    val clean = deduped.join(contaminated, Seq("doc_id"), "left_anti")
    Curation.tokenBudgetSample(
        clean.select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens")),
        "source", "doc_id", "n_tokens", budget = 400)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Token-weighted Bernoulli sample (expected ~60 docs, long docs more
    * likely — the sample's token mass tracks the corpus). */
  private def sampleWeighted: Q = (s, d) =>
    Curation.weightedSample(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", expectedK = 60)
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))

  /** DSIR importance weights against the same held-out target set the
    * contamination query uses (doc_id % 97): every corpus doc scored by
    * how target-like its hashed-unigram distribution is. Full output,
    * doc_id-ordered — the resampling step composes via weightedSample. */
  private def sampleDsir: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    Curation.dsirWeights(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Data mixing: a 20-source target mixture (weight ∝ source index + 1)
    * executed deterministically under one 10k global token budget. */
  private def sampleMixture: Q = (s, d) => {
    val mixture = (0 until 20).map(i => s"src$i" -> (i + 1) / 210.0)
    Curation.mixtureSample(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens")),
        "source", "doc_id", "n_tokens", mixture, totalBudget = 10000L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("stratum_budget"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-flattened domain mixing (α = 0.5 square-root
    * resampling, the multilingual-LM default): budgets DERIVED from the
    * per-source token mass, then the same deterministic md5 admission. */
  private def sampleTemperature: Q = (s, d) =>
    Curation.temperatureSample(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens")),
        "source", "doc_id", "n_tokens", alpha = 0.5, totalBudget = 10000L)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("cum_tokens"), col("stratum_budget"))
      .orderBy(col("doc_id"))

  /** Deterministic 80/10/10 split: per-split doc and token totals. */
  private def sampleSplitAssign: Q = (s, d) =>
    Curation.assignSplit(
        Tables.documents(s, d)
          .select(col("doc_id"), TA.tokenCount(col("text")).as("n_tokens")),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"))
      .orderBy(col("split"))

  /** Sharded sequence packing: 512-token chunks per source shard. */
  private def samplePackChunks: Q = (s, d) =>
    Curation.packSequences(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), TA.tokenCount(col("text")).as("n_tokens")),
        "source", "doc_id", "n_tokens", chunkTokens = 512)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("first_chunk"), col("last_chunk"))
      .orderBy(col("doc_id"))

  /** Global deterministic shuffle + equal-token contiguous shards: the
    * corpus in seeded pseudo-random training order with an EXACT global
    * running token count and 8 balanced shard manifests — computed by the
    * two-phase prefix sum in [[Curation.globalShuffleShards]] (one range
    * shuffle + driver-scale offsets), never a single-partition window.
    * The DuckDB oracle IS the naive global window — the scale-safe form
    * must reproduce it bit-for-bit. */
  private def sampleGlobalShards: Q = (s, d) =>
    Curation.globalShuffleShards(
        Tables.documents(s, d)
          .select(col("doc_id"), TA.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", numShards = 8, partitions = 32)
      .select(col("id").as("doc_id"), col("n_tokens"), col("h"),
        col("cum_tokens"), col("shard"))
      .orderBy(col("doc_id"))

  /** PII scrubbing: the synthetic corpus carries no natural PII, so the
    * query PLANTS a deterministic contact suffix from doc_id (both
    * engines construct the identical string); the operator itself is
    * generic over any text column. The md5 of the redacted text checks
    * the transform byte-for-byte. */
  private def textPiiRedaction: Q = (s, d) => {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com or 12-345-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-9012")).as("text"))
    Curation.redactPii(planted, "text")
      .select(col("doc_id"), md5(col("redacted")).as("redacted_md5"),
        col("n_phones"), col("n_emails"))
      .orderBy(col("doc_id"))
  }

  /** Canonical normalization + its payoff: normalized exact dedup merges
    * case/punctuation/spacing variants into one fingerprint class. */
  private def textNormalized: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), Curation.normalize(col("text")).as("norm"))
      .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
        length(col("norm")).as("norm_len"))
      .orderBy(col("doc_id"))

  // ---------------- multimodal ----------------

  /** Documents scan spread to the session parallelism for the decode /
    * fingerprint queries below: their per-row work (PNG round trips,
    * integer DCTs, byte transforms) is the heavy stage and runs
    * map-side, where the single-split local file would serialize it
    * (ScaleOut scaladoc; at real scale the guard no-ops). The operators
    * themselves stay narrow projections — PlanSpec's exchange-free pins
    * on mediaTable∘dhashFingerprint are unchanged. */
  private def docsSpread(s: SparkSession, d: String): DataFrame =
    graft.operators.ScaleOut.forCompute(Tables.documents(s, d), "doc_id")

  private def mmMediaStats: Q = (s, d) =>
    Multimodal.metadataOnly(Multimodal.mediaTable(Tables.documents(s, d)))
      .orderBy(col("format"))

  private def mmFeatures: Q = (s, d) =>
    Multimodal.extractFeatures(Multimodal.mediaTable(docsSpread(s, d)))(s)
      .toDF()
      .select(col("doc_id"), col("format"), col("n_bytes"),
        round(col("byte_mean"), 4).as("byte_mean"),
        col("byte_max"), col("head_checksum"))
      .orderBy(col("doc_id"))

  /** Frame sampling over the media container: every 4th 64-byte frame.
    * The oracle recomputes each frame's md5 from the source text (the
    * synthetic corpus is ASCII, so byte slices == char slices). */
  private def mmFrameSample: Q = (s, d) =>
    Multimodal.frameSample(Multimodal.mediaTable(docsSpread(s, d)),
        frameBytes = 64, everyNth = 4)
      .select(col("doc_id"), col("format"), col("frame_idx"), col("frame_len"),
        md5(col("frame")).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_idx"))

  /** Byte-domain resize (stride-4 nearest-neighbor analogue): the oracle
    * rebuilds the resized payload per document and matches its md5 —
    * a bit-for-bit check of the whole per-partition transform path. */
  private def mmResize: Q = (s, d) => {
    implicit val sp: SparkSession = s
    Multimodal.resize(Multimodal.mediaTable(docsSpread(s, d)),
        Multimodal.StrideResizer(4))
      .toDF()
      .select(col("doc_id"), col("format"),
        col("n_bytes").as("resized_bytes"), md5(col("media")).as("resized_md5"))
      .orderBy(col("doc_id"))
  }

  /** 32-bit dHash perceptual fingerprint per payload: byte-order-
    * preserving variants collide, so dup clustering is a plain GROUP BY
    * on this column — no pairwise stage (PipelineSpec proves the
    * collision behavior on planted re-encodes). The oracle replays every
    * document's sampling grid and comparison bits exactly. */
  private def mmDhash: Q = (s, d) =>
    Multimodal.dhashFingerprint(Multimodal.mediaTable(docsSpread(s, d)))
      .orderBy(col("doc_id"))

  /** 63-bit pHash (integer-DCT) perceptual fingerprint per payload —
    * the structural twin of mm_dhash: uniform byte shifts (brightness
    * re-encodes) move only the dropped DC coefficient, so they collide.
    * All arithmetic is exact int64 (quantized basis), so the oracle
    * replays every document's DCT and median threshold bit-for-bit. */
  private def mmPhash: Q = (s, d) =>
    Multimodal.phashFingerprint(Multimodal.mediaTable(docsSpread(s, d)))
      .orderBy(col("doc_id"))

  /** Perceptual near-dup pairs at hamming ≤ 6 over the dHash
    * fingerprints — pigeonhole-banded candidates (8 bands of 4 bits:
    * complete for ≤ 6 flips by counting), bit_count verification. The
    * oracle replays the full fingerprint arithmetic and the naive pair
    * scan (bounded corpus); the engine plan has no cartesian. */
  private def mmDhashNearDups: Q = (s, d) =>
    Multimodal.dhashNearDups(
        Multimodal.dhashFingerprint(Multimodal.mediaTable(docsSpread(s, d))))
      .orderBy(col("id_a"), col("id_b"))

  /** REAL image decode: deterministic per-doc pixels → actual PNG encode
    * (javax.imageio) → actual PNG decode → dimensions + exact sample sum.
    * PNG is lossless, so the decoded samples equal the planted
    * arithmetic, which DuckDB replays without any codec — the oracle
    * checks a genuine encode→decode round trip, not a fake. */
  private def mmDecode: Q = (s, d) => {
    implicit val sp: SparkSession = s
    Multimodal.decodeImageFeatures(
        Multimodal.syntheticPngTable(docsSpread(s, d)).toDF())
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("channels"), col("px_sum"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, Q] = Map(
    "dedup_exact_keepers"  -> dedupExactKeepers,
    "dedup_exact_groups"   -> dedupExactGroups,
    "dedup_minhash_pairs"  -> dedupMinhashPairs,
    "dedup_incremental_pairs" -> dedupIncrementalPairs,
    "dedup_lsh_index"      -> dedupLshIndex,
    "dedup_simhash_pairs"  -> dedupSimhashPairs,
    "dedup_simhash_exact_diff" -> dedupSimhashExactDiff,
    "dedup_ngram_pairs"    -> dedupNgramPairs,
    "dedup_cluster_keepers" -> dedupClusterKeepers,
    "text_token_stats"     -> textTokenStats,
    "text_quality_source"  -> textQualityBySource,
    "text_langid"          -> textLangidConfusion,
    "text_fingerprints"    -> textFingerprints,
    "ann_topk"             -> annTopK,
    "ann_matryoshka"       -> annMatryoshka,
    "ann_hard_negatives"   -> annHardNegatives,
    "text_bpe_encode"      -> textBpeEncode,
    "ann_neardup_pairs"    -> annNearDupPairs,
    "semdedup_keepers"     -> semdedupKeepers,
    "semdedup_cells_keepers" -> semdedupCellsKeepers,
    "semdedup_incremental_pairs" -> semdedupIncrementalPairs,
    "semdedup_cells_check" -> semdedupCellsCheck,
    "ann_lsh_topk"         -> annLshTopK,
    "ann_ivf_topk"         -> annIvfTopK,
    "ann_ivf_exact"        -> annIvfExact,
    "ann_recall_contract"  -> annRecallContract,
    "ann_lsh_check"        -> annLshCheck,
    "ann_pq_check"         -> annPqCheck,
    "ann_pq_refined"       -> annPqRefined,
    "ann_pq_topk"          -> annPqTopK,
    "ann_ivfpq_topk"       -> annIvfPqTopK,
    "text_contamination"   -> textContamination,
    "text_repetition"      -> textRepetition,
    "text_gopher_rules"    -> textGopherRules,
    "text_classifier_score" -> textClassifierScore,
    "text_classifier_trained" -> textClassifierTrained,
    "stream_ingest_replay" -> streamIngestReplay,
    "stream_ingest_socket" -> streamIngestSocket,
    "dedup_span_rewrite"   -> dedupSpanRewrite,
    "ann_knn_classify"     -> annKnnClassify,
    "ann_kmeans_assign"    -> annKmeansAssign,
    "ann_domain_outliers"  -> annDomainOutliers,
    "ann_pca_project"      -> annPcaProject,
    "dedup_best_keepers"   -> dedupBestKeepers,
    "dedup_topk_keepers"   -> dedupTopkKeepers,
    "sample_temperature"   -> sampleTemperature,
    "text_lm_quality"      -> textLmQuality,
    "text_tfidf_terms"     -> textTfidfTerms,
    "text_top_ngrams"      -> textTopNgrams,
    "text_bigram_lm"       -> textBigramLm,
    "text_chunks"          -> textChunks,
    "dedup_substring_pairs" -> dedupSubstringPairs,
    "dedup_fuzzy_join"     -> dedupFuzzyJoin,
    "dedup_entity_resolution" -> dedupEntityResolution,
    "dedup_suffix_ranks"   -> dedupSuffixRanks,
    "text_inverted_index"  -> textInvertedIndex,
    "text_oov_rate"        -> textOovRate,
    "text_corpus_report"   -> textCorpusReport,
    "sample_epochs"        -> sampleEpochs,
    "ann_kcenter"          -> annKcenter,
    "text_domain_kl"       -> textDomainKl,
    "text_dedup_savings"   -> textDedupSavings,
    "pipeline_curation_v2" -> pipelineCurationV2,
    "text_index_serve"     -> textIndexServe,
    "sample_stratified"    -> sampleStratified,
    "sample_neyman"        -> sampleNeyman,
    "sample_balanced"      -> sampleBalanced,
    "sample_interleave"    -> sampleInterleave,
    "sample_token_budget"  -> sampleTokenBudget,
    "pipeline_curation"    -> pipelineCuration,
    "text_pii_redaction"   -> textPiiRedaction,
    "text_normalized"      -> textNormalized,
    "sample_dsir"          -> sampleDsir,
    "sample_mixture"       -> sampleMixture,
    "sample_split_assign"  -> sampleSplitAssign,
    "sample_pack_chunks"   -> samplePackChunks,
    "sample_global_shards" -> sampleGlobalShards,
    "sample_weighted"      -> sampleWeighted,
    "text_novelty"         -> textNovelty,
    "text_novelty_incr"    -> textNoveltyIncr,
    "text_vocab_encode"    -> textVocabEncode,
    "text_boilerplate"     -> textBoilerplate,
    "dedup_norm_collisions" -> dedupNormCollisions,
    "text_bm25_topk"       -> textBm25TopK,
    "text_rrf_fusion"      -> textRrfFusion,
    "sample_quantile_filter" -> sampleQuantileFilter,
    "graph_pagerank"       -> graphPagerank,
    "graph_triangles"      -> graphTriangles,
    "graph_kcore"          -> graphKcore,
    "dedup_containment_pairs" -> dedupContainmentPairs,
    "sample_leakage_split" -> sampleLeakageSplit,
    "ann_int8_topk"        -> annInt8TopK,
    "ann_drift"            -> annDrift,
    "mm_media_stats"       -> mmMediaStats,
    "mm_dhash"             -> mmDhash,
    "mm_phash"             -> mmPhash,
    "mm_dhash_neardups"    -> mmDhashNearDups,
    "mm_decode"            -> mmDecode,
    "mm_features"          -> mmFeatures,
    "mm_frame_sample"      -> mmFrameSample,
    "mm_resize"            -> mmResize,
  )

  // ---------------- oracles ----------------

  private val cosineSql =
    """round(list_aggregate(list_transform(list_zip(e.embedding, q.qv),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
       / (sqrt(list_aggregate(list_transform(e.embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
        * sqrt(list_aggregate(list_transform(q.qv,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4)"""

  private val langCaseSql: String = {
    val cnts = TA.DefaultMarkers.map { case (lang, words) =>
      lang -> s"len(list_filter(string_split(text, ' '), x -> x IN (${words.map(w => s"'$w'").mkString(", ")})))"
    }
    val branches = cnts.map { case (lang, cnt) =>
      val others = cnts.filter(_._1 != lang).map(_._2)
      s"WHEN $cnt > 0 AND ${others.map(o => s"$cnt >= $o").mkString(" AND ")} THEN '$lang'"
    }.mkString("\n             ")
    s"CASE $branches ELSE 'und' END"
  }

  /** Distinct char 3-grams of `textExpr` (mirrors Dedup.charNgrams). */
  private def charGramsSql(textExpr: String): String =
    s"""list_distinct(list_transform(
         range(1, greatest(length($textExpr) - 2, 1) + 1),
         i -> substr($textExpr, CAST(i AS INT), 3)))"""

  /** Distinct word 2-shingles: the shingle rule Dedup's ShingleMinHash
    * kernel hashes, with k=2, as strings. */
  private def wordShinglesSql(textExpr: String): String =
    s"""list_distinct(list_transform(
         range(1, greatest(len(string_split($textExpr, ' ')) - 1, 1) + 1),
         i -> array_to_string(string_split($textExpr, ' ')[CAST(i AS INT):CAST(i AS INT)+1], ' ')))"""

  private def jaccardSql(a: String, b: String): String =
    s"""round(CAST(len(list_intersect($a, $b)) AS DOUBLE)
         / len(list_distinct(list_concat($a, $b))), 4)"""

  /** Brute-force cosine top-k — the shared oracle for ann_topk and every
    * ANN configuration that provably converges to it (exact IVF probe of
    * all cells; PQ pool + exact re-rank). */
  /** Per-doc quality score q — shared by the quality rollup and the
    * streaming-ingest replay gate (mirrors TextAnalysis.qualityScore). */
  private val qualitySql =
    s"""round(
          least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4 +
          least(round(CAST(len(${stopSql()}) AS DOUBLE) / len(string_split(text, ' ')), 4) * 5.0, 1.0) * 0.4 +
          (1.0 - round(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / length(text), 4)) * 0.2,
          4)"""

  /** One k-means assignment pass in DuckDB: squared-L2 to every centroid
    * in `centTbl`, argmin with ties to the lower centroid index (rn=1). */
  private def kmeansAssignSql(centTbl: String, outName: String): String =
    s"""$outName AS (
          SELECT vec_id, cluster, dist2,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dist2, cluster) AS rn
          FROM (SELECT e.vec_id, c.cluster,
                       list_aggregate(list_transform(list_zip(e.v, c.c),
                         p -> (p[1]-p[2])*(p[1]-p[2])), 'sum') AS dist2
                FROM e CROSS JOIN $centTbl c))"""

  /** One k-means centroid update in DuckDB: per-(cluster,dim) means of
    * the rn=1 assignment, rounded to 6 decimals (the engine-portability
    * quantization kmeansAssign applies), empty clusters keeping their
    * previous coordinates. */
  private def kmeansUpdateSql(assignTbl: String, prevCent: String,
                              mTbl: String, cTbl: String): String =
    s"""$mTbl AS (SELECT a.cluster, u.pos, round(avg(u.val), 6) AS m
                  FROM (SELECT vec_id, cluster FROM $assignTbl WHERE rn = 1) a
                  JOIN (SELECT vec_id, unnest(v) AS val,
                               unnest(range(0, len(v))) AS pos FROM e) u USING (vec_id)
                  GROUP BY a.cluster, u.pos),
        ${cTbl}u AS (SELECT p.cluster, p.pos, COALESCE($mTbl.m, p.cv) AS cv
                     FROM (SELECT cluster, unnest(c) AS cv,
                                  unnest(range(0, len(c))) AS pos FROM $prevCent) p
                     LEFT JOIN $mTbl ON $mTbl.cluster = p.cluster AND $mTbl.pos = p.pos),
        $cTbl AS (SELECT cluster, list(cv ORDER BY pos) AS c FROM ${cTbl}u GROUP BY cluster)"""

  /** `iters` power-method rounds in DuckDB over covariance CTE
    * `covTbl`: matvec, L2-normalize, round the iterate to 9 decimals —
    * the exact quantization pcaPowerProject applies. Returns (CTE text,
    * final iterate name). Start = the exactly-representable 1/sqrt(d). */
  private def powerIterSql(covTbl: String, prefix: String, iters: Int): (String, String) = {
    val ctes = new StringBuilder(
      s"""${prefix}w0 AS MATERIALIZED (SELECT pos AS i,
            1.0 / sqrt((SELECT CAST(count(*) AS DOUBLE) FROM mu)) AS x FROM mu)""")
    var prev = s"${prefix}w0"
    for (k <- 1 to iters) {
      val u = s"${prefix}u$k"; val w = s"${prefix}w$k"
      ctes ++= s""",
        $u AS MATERIALIZED (SELECT $covTbl.i, sum($covTbl.c * w.x) AS u
               FROM $covTbl JOIN $prev w ON w.i = $covTbl.j GROUP BY $covTbl.i),
        $w AS MATERIALIZED (SELECT i, round(u / (SELECT sqrt(sum(u * u)) FROM $u), 9) AS x FROM $u)"""
      prev = w
    }
    (ctes.toString, prev)
  }

  /** Full PCA oracle: mean/covariance (6-decimal), `iters` power rounds
    * per component, one deflation (6-decimal λ), 4-decimal projections. */
  private def pcaProjectSql(iters: Int): String = {
    val (it1, w1) = powerIterSql("cov", "a", iters)
    val (it2, w2) = powerIterSql("cov2", "b", iters)
    s"""WITH e AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
              x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings WHERE embedding IS NOT NULL),
        ex AS MATERIALIZED (SELECT vec_id, unnest(v) AS val,
                      unnest(range(0, len(v))) AS pos FROM e),
        mu AS MATERIALIZED (SELECT pos, round(avg(val), 6) AS m FROM ex GROUP BY pos),
        cov AS MATERIALIZED (SELECT a.pos AS i, b.pos AS j,
                       round(avg((a.val - ma.m) * (b.val - mb.m)), 6) AS c
                FROM ex a JOIN ex b USING (vec_id)
                JOIN mu ma ON ma.pos = a.pos JOIN mu mb ON mb.pos = b.pos
                GROUP BY a.pos, b.pos),
        $it1,
        lam AS MATERIALIZED (SELECT round(sum(wi.x * cov.c * wj.x), 6) AS l
                FROM cov JOIN $w1 wi ON wi.i = cov.i
                         JOIN $w1 wj ON wj.i = cov.j),
        cov2 AS MATERIALIZED (SELECT cov.i, cov.j,
                        round(cov.c - (SELECT l FROM lam) * wi.x * wj.x, 6) AS c
                 FROM cov JOIN $w1 wi ON wi.i = cov.i
                          JOIN $w1 wj ON wj.i = cov.j),
        $it2
     SELECT ex.vec_id,
            round(sum((ex.val - mu.m) * a.x), 4) AS pc1,
            round(sum((ex.val - mu.m) * b.x), 4) AS pc2
     FROM ex JOIN mu ON mu.pos = ex.pos
             JOIN $w1 a ON a.i = ex.pos
             JOIN $w2 b ON b.i = ex.pos
     GROUP BY ex.vec_id ORDER BY ex.vec_id"""
  }

  private val bruteTopKSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, e.vec_id AS neighbor_id, $cosineSql AS score
          FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, score,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY score DESC, neighbor_id) AS "rank"
          FROM scored)
        SELECT query_id, neighbor_id, score, "rank" FROM ranked
        WHERE "rank" <= 5 ORDER BY query_id, "rank""""

  /** 3 unrolled PageRank iterations over the symmetrized ngramPairs
    * graph. Every float literal is CAST to DOUBLE so DuckDB's DECIMAL
    * literal arithmetic can't diverge from Spark's double ops; edge/degree
    * CTEs are MATERIALIZED so the grams join isn't inlined into each of
    * the 6 references (the PCA-oracle lesson). */
  private val pagerankSql: String = {
    val n = "(SELECT CAST(count(*) AS DOUBLE) FROM nodes)"
    def iter(prev: String, cur: String) =
      s"""d$cur AS (SELECT COALESCE(sum(pr), CAST(0 AS DOUBLE)) AS m FROM $prev
                    WHERE id NOT IN (SELECT src FROM deg)),
          c$cur AS (SELECT e.dst AS id, sum(p.pr * e.w) AS inm
                    FROM e JOIN $prev p ON p.id = e.src GROUP BY 1),
          $cur AS (SELECT nodes.id,
                          round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / $n
                                + CAST(0.85 AS DOUBLE) *
                                  (COALESCE(c$cur.inm, CAST(0 AS DOUBLE))
                                   + (SELECT m FROM d$cur) / $n), 9) AS pr
                   FROM nodes LEFT JOIN c$cur ON c$cur.id = nodes.id)"""
    s"""WITH g AS MATERIALIZED (SELECT doc_id, ${charGramsSql("text")} AS grams
                                FROM documents WHERE doc_id < 100),
            p2 AS MATERIALIZED (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE ${jaccardSql("a.grams", "b.grams")} >= 0.5),
            e0 AS (SELECT id_a AS src, id_b AS dst FROM p2
                   UNION ALL SELECT id_b, id_a FROM p2),
            deg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg
                                 FROM e0 GROUP BY 1),
            e AS MATERIALIZED (SELECT e0.src, e0.dst, CAST(1.0 AS DOUBLE) / deg.deg AS w
                               FROM e0 JOIN deg USING (src)),
            nodes AS MATERIALIZED (SELECT doc_id AS id FROM documents WHERE doc_id < 100),
            pr0 AS (SELECT id, round(CAST(1.0 AS DOUBLE) / $n, 9) AS pr FROM nodes),
            ${iter("pr0", "pr1")},
            ${iter("pr1", "pr2")},
            ${iter("pr2", "pr3")}
       SELECT id, pr FROM pr3 ORDER BY id"""
  }

  /** Unrolled greedy k-center (6 farthest-point rounds, MATERIALIZED
    * per round — the kcore lesson). Cosine is computed UNROUNDED in
    * double (both engines share IEEE), only the 1-cos distance
    * quantizes to 6 decimals before each argmax, exactly as the
    * engine does; ties to the lower id. */
  private val kcenterSql: String = {
    val cosRaw =
      """(list_aggregate(list_transform(list_zip(e.embedding, c.embedding),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
         / (sqrt(list_aggregate(list_transform(e.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
          * sqrt(list_aggregate(list_transform(c.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))))"""
    val rounds = (2 to 6).map { r =>
      val p = r - 1
      s""",
        pick$r AS MATERIALIZED (
            SELECT d$p.vec_id, d$p.mind FROM d$p
            WHERE d$p.vec_id NOT IN (SELECT vec_id FROM sel$p)
            ORDER BY d$p.mind DESC, d$p.vec_id LIMIT 1),
        sel$r AS MATERIALIZED (
            SELECT vec_id, rnk FROM sel$p
            UNION ALL SELECT vec_id, $r FROM pick$r),
        d$r AS MATERIALIZED (
            SELECT e.vec_id,
                   least(d$p.mind, round(1.0 - $cosRaw, 6)) AS mind
            FROM emb e
            JOIN d$p ON d$p.vec_id = e.vec_id
            JOIN emb c ON c.vec_id = (SELECT vec_id FROM pick$r))"""
    }.mkString
    s"""WITH emb AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
        c1 AS MATERIALIZED (SELECT vec_id FROM emb ORDER BY vec_id LIMIT 1),
        sel1 AS MATERIALIZED (SELECT vec_id, 1 AS rnk FROM c1),
        d1 AS MATERIALIZED (
            SELECT e.vec_id, round(1.0 - $cosRaw, 6) AS mind
            FROM emb e JOIN emb c ON c.vec_id = (SELECT vec_id FROM c1))$rounds
       SELECT CAST(s.rnk AS INT) AS rank, s.vec_id,
              CAST(CASE WHEN s.rnk = 1 THEN 0.0
                   ELSE (SELECT p.mind FROM (
                           SELECT vec_id, mind, 2 AS r FROM pick2
                           UNION ALL SELECT vec_id, mind, 3 FROM pick3
                           UNION ALL SELECT vec_id, mind, 4 FROM pick4
                           UNION ALL SELECT vec_id, mind, 5 FROM pick5
                           UNION ALL SELECT vec_id, mind, 6 FROM pick6) p
                         WHERE p.r = s.rnk) END AS DOUBLE) AS covered_radius
       FROM sel6 s ORDER BY rank"""
  }

  /** Shared peel depth: the oracle unrolls exactly this many rounds and
    * the engine query refuses to exceed it (see graphKcore). */
  private val KcoreOracleRounds = 8

  /** Unrolled k-core peeling (8 rounds; the sf0.01 fixpoint is 3 and
    * denser corpora converge FASTER, but the margin is cheap — every
    * round CTE is MATERIALIZED, so extra rounds are O(core edges) no-ops
    * and never inline exponentially. If a future fixture ever needs more
    * depth the ENGINE side still converges (it runs to fixpoint); only
    * this replay must grow with it — and the declared query pins the
    * engine's maxRounds to THIS constant, so depth overflow fails the
    * engine run loudly rather than silently diverging. */
  private val kcoreSql: String = {
    val rounds = (1 to KcoreOracleRounds).map { i =>
      val p = i - 1
      s""",
         k$p AS MATERIALIZED (
             SELECT id FROM (SELECT u AS id FROM e$p UNION ALL SELECT v AS id FROM e$p)
             GROUP BY id HAVING count(*) >= 2),
         e$i AS MATERIALIZED (
             SELECT u, v FROM e$p WHERE u IN (SELECT id FROM k$p)
                                    AND v IN (SELECT id FROM k$p))"""
    }.mkString
    s"""WITH b AS MATERIALIZED (
              SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m
              FROM events),
         e0 AS MATERIALIZED (
              SELECT DISTINCT a.user_id AS u, c.user_id AS v
              FROM b a JOIN b c ON a.event_type = c.event_type AND a.m = c.m
                               AND a.user_id < c.user_id)$rounds
       SELECT id, count(*) AS deg
       FROM (SELECT u AS id FROM e8 UNION ALL SELECT v AS id FROM e8)
       GROUP BY id ORDER BY id"""
  }

  /** Exact cross-set Jaccard pairs (new batch = doc_id % 4 == 0 vs the
    * admitted rest) — shared by dedup_incremental_pairs and its
    * persisted-index twin dedup_lsh_index (identical verified output by
    * the 16-band recall arithmetic). */
  private val incrementalPairsSql =
    s"""WITH sh AS (SELECT doc_id, ${wordShinglesSql("text")} AS s FROM documents),
        scored AS (
          SELECT i.doc_id AS incoming_id, e.doc_id AS existing_id,
                 ${jaccardSql("i.s", "e.s")} AS jaccard
          FROM sh i JOIN sh e ON i.doc_id % 4 = 0 AND e.doc_id % 4 <> 0)
        SELECT incoming_id, existing_id, jaccard FROM scored
        WHERE jaccard >= 0.5 ORDER BY incoming_id, existing_id"""

  // token-with-position stream shared by the curation oracles: DuckDB
  // zips parallel unnests, mirroring Spark's posexplode
  private val TOKSTREAM =
    """w AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS ord FROM toks)"""

  /** ADC-scoring oracle over exported quantizer DECISIONS (codes +
    * codebooks + optional probe pairs): DuckDB replays the per-query
    * LUTs (subvector·codebook inner products, left-to-right like the
    * driver loop), the ordered m-lookup sum, the 4-decimal rounding and
    * the (score DESC, neighbor) ranking — everything downstream of the
    * seeded quantizer. */
  private def adcOracleSql(prefix: String, withProbes: Boolean): String = {
    val fix = fixtureDirForOracle
    val cand =
      if (withProbes)
        s"""pair AS (SELECT pr.query_id, cu.neighbor_id, cu.j, cu.code
                     FROM read_parquet('$fix/${prefix}_probes/*.parquet') pr
                     JOIN cu USING (cell)
                     WHERE cu.neighbor_id <> pr.query_id)"""
      else
        s"""pair AS (SELECT qn.query_id, cu.neighbor_id, cu.j, cu.code
                     FROM qn CROSS JOIN cu
                     WHERE cu.neighbor_id <> qn.query_id)"""
    s"""WITH cb AS (SELECT * FROM read_parquet('$fix/${prefix}_codebooks/*.parquet')),
            codes AS (SELECT * FROM read_parquet('$fix/${prefix}_codes/*.parquet')),
            q0 AS (SELECT vec_id AS query_id,
                          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                   FROM embeddings WHERE vec_id < 5),
            qn AS (SELECT query_id,
                     CASE WHEN nrm > 0 THEN list_transform(emb, x -> x / nrm)
                          ELSE list_transform(emb, x -> CAST(0.0 AS DOUBLE)) END AS nv
                   FROM (SELECT query_id, emb,
                                sqrt(list_aggregate(list_transform(emb,
                                  x -> x * x), 'sum')) AS nrm FROM q0)),
            lut AS MATERIALIZED (
              SELECT qn.query_id, cb.j, cb.c,
                     list_aggregate(list_transform(
                       list_zip(list_slice(qn.nv, cb.j * len(cb.vec) + 1,
                                           (cb.j + 1) * len(cb.vec)), cb.vec),
                       p -> p[1] * p[2]), 'sum') AS ip
              FROM qn CROSS JOIN cb),
            cu AS MATERIALIZED (
              SELECT *, unnest(codes) AS code,
                     unnest(range(0, len(codes))) AS j
              FROM codes),
            $cand,
            scored AS (
              SELECT p.query_id, p.neighbor_id,
                     round(list_aggregate(list(l.ip ORDER BY l.j), 'sum'), 4) AS score
              FROM pair p JOIN lut l
                ON l.query_id = p.query_id AND l.j = p.j AND l.c = p.code
              GROUP BY 1, 2),
            ranked AS (
              SELECT query_id, neighbor_id, score,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY score DESC, neighbor_id) AS "rank"
              FROM scored)
       SELECT query_id, neighbor_id, score, "rank" FROM ranked
       WHERE "rank" <= 5 ORDER BY query_id, "rank""""
  }

  // a DEF, not a val: the ann_ivf_topk / ann_lsh_topk / ADC oracles
  // interpolate the fixture path the queries recorded when they ran
  // (Verify dumps oracleSql AFTER running every query)
  def oracles: Map[String, String] = Map(
    "ann_pq_topk" -> adcOracleSql("pq", withProbes = false),
    "ann_ivfpq_topk" -> adcOracleSql("ivfpq", withProbes = true),
    "semdedup_cells_keepers" -> {
      def cos(a: String, b: String) =
        s"""round(list_aggregate(list_transform(list_zip($a, $b),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform($a,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
            * sqrt(list_aggregate(list_transform($b,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4)"""
      s"""WITH RECURSIVE cells AS (
            SELECT * FROM read_parquet('$fixtureDirForOracle/semdedup_cells/*.parquet')),
          edges AS MATERIALIZED (
            SELECT a.vec_id AS src, b.vec_id AS dst
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.vec_id <> b.vec_id
            JOIN embeddings ea ON ea.vec_id = a.vec_id
            JOIN embeddings eb ON eb.vec_id = b.vec_id
            WHERE ${cos("ea.embedding", "eb.embedding")} >= 0.4),
          reach AS (
            SELECT vec_id AS id, vec_id AS r FROM embeddings
            UNION
            SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         SELECT id AS vec_id FROM (
           SELECT id, min(r) AS cluster FROM reach GROUP BY id) t
         WHERE id = cluster ORDER BY vec_id"""
    },
    "semdedup_incremental_pairs" -> {
      def cos(a: String, b: String) =
        s"""round(list_aggregate(list_transform(list_zip($a, $b),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform($a,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
            * sqrt(list_aggregate(list_transform($b,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4)"""
      s"""WITH cc AS (SELECT * FROM read_parquet('$fixtureDirForOracle/semincr_corpus_cells/*.parquet')),
              bc AS (SELECT * FROM read_parquet('$fixtureDirForOracle/semincr_batch_cells/*.parquet')),
              cand AS (SELECT bc.vec_id AS incoming_id, cc.vec_id AS existing_id
                       FROM bc JOIN cc ON bc.cell = cc.cell
                       WHERE bc.vec_id <> cc.vec_id),
              scored AS (SELECT incoming_id, existing_id,
                                ${cos("eb.embedding", "ei.embedding")} AS cosine
                         FROM cand
                         JOIN embeddings eb ON eb.vec_id = cand.incoming_id
                         JOIN embeddings ei ON ei.vec_id = cand.existing_id)
         SELECT incoming_id, existing_id, cosine FROM scored
         WHERE cosine >= 0.4 ORDER BY incoming_id, existing_id"""
    },
    "dedup_simhash_pairs" ->
      s"""WITH sh AS (SELECT doc_id, sh, sh >> 48 AS band
                      FROM read_parquet('$fixtureDirForOracle/simhash_sigs/*.parquet')),
              p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                           CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
                    FROM sh a JOIN sh b
                      ON a.band = b.band AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM p WHERE hamming <= 16
         ORDER BY id_a, id_b""",
    "ann_ivf_topk" ->
      s"""WITH p AS (SELECT * FROM read_parquet('$fixtureDirForOracle/ivf_probes/*.parquet')),
              a AS (SELECT * FROM read_parquet('$fixtureDirForOracle/ivf_assign/*.parquet')),
              q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
              scored AS (
                SELECT p.query_id, a.neighbor_id, $cosineSql AS score
                FROM p JOIN a USING (cell)
                JOIN q ON q.query_id = p.query_id
                JOIN embeddings e ON e.vec_id = a.neighbor_id
                WHERE a.neighbor_id <> p.query_id),
              ranked AS (
                SELECT query_id, neighbor_id, score,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY score DESC, neighbor_id) AS "rank"
                FROM scored)
         SELECT query_id, neighbor_id, score, "rank" FROM ranked
         WHERE "rank" <= 5 ORDER BY query_id, "rank"""",
    "ann_lsh_topk" ->
      s"""WITH b AS (SELECT * FROM read_parquet('$fixtureDirForOracle/lsh_buckets/*.parquet')),
              q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
              scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id, $cosineSql AS score
                FROM q JOIN b bq ON bq.vec_id = q.query_id
                JOIN b bn ON bn.bucket = bq.bucket
                JOIN embeddings e ON e.vec_id = bn.vec_id
                WHERE e.vec_id <> q.query_id),
              ranked AS (
                SELECT query_id, neighbor_id, score,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY score DESC, neighbor_id) AS "rank"
                FROM scored)
         SELECT query_id, neighbor_id, score, "rank" FROM ranked
         WHERE "rank" <= 5 ORDER BY query_id, "rank"""",
    "text_contamination" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              g AS (SELECT doc_id,
                           tok || ' ' || lead(tok,1) OVER dw || ' ' || lead(tok,2) OVER dw AS gram,
                           lead(tok,2) OVER dw AS ok
                    FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              d AS (SELECT DISTINCT doc_id, gram FROM g WHERE ok IS NOT NULL),
              ev AS (SELECT doc_id AS eval_doc, gram FROM d WHERE doc_id % 97 = 0),
              tr AS (SELECT doc_id AS train_doc, gram FROM d WHERE doc_id % 97 <> 0)
         SELECT train_doc, eval_doc, count(*) AS shared
         FROM tr JOIN ev USING (gram) GROUP BY 1, 2 HAVING count(*) >= 2
         ORDER BY train_doc, eval_doc""",
    "text_repetition" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              $TOKSTREAM,
              uni AS (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY 1, 2),
              ent AS (SELECT doc_id, round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 4) AS word_entropy
                      FROM uni GROUP BY 1),
              bi AS (SELECT doc_id, tok || ' ' || lead(tok) OVER dw AS g
                     FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              bic AS (SELECT doc_id, g, count(*) AS c FROM bi WHERE g IS NOT NULL GROUP BY 1, 2),
              top AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac
                      FROM bic GROUP BY 1),
              tri AS (SELECT doc_id,
                             tok || ' ' || lead(tok,1) OVER dw || ' ' || lead(tok,2) OVER dw AS g,
                             lead(tok,2) OVER dw AS ok
                      FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              dup AS (SELECT doc_id, round(1.0 - count(DISTINCT g)::DOUBLE / count(g), 4) AS dup_trigram_frac
                      FROM tri WHERE ok IS NOT NULL GROUP BY 1)
         SELECT doc_id, word_entropy,
                COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac,
                COALESCE(dup_trigram_frac, 0.0) AS dup_trigram_frac
         FROM ent LEFT JOIN top USING (doc_id) LEFT JOIN dup USING (doc_id)
         ORDER BY doc_id""",
    "text_top_ngrams" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              g AS (SELECT doc_id, tok || ' ' || lead(tok,1) OVER dw AS gram
                    FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              g2 AS (SELECT doc_id, gram FROM g WHERE gram IS NOT NULL),
              occ AS (SELECT gram, count(*) AS occurrences FROM g2 GROUP BY 1),
              dfreq AS (SELECT gram, count(DISTINCT doc_id) AS doc_freq FROM g2 GROUP BY 1)
         SELECT gram, occurrences, doc_freq FROM occ JOIN dfreq USING (gram)
         ORDER BY occurrences DESC, gram ASC LIMIT 20""",
    "text_bigram_lm" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              p AS (SELECT doc_id, tok AS w1, lead(tok,1) OVER dw AS w2
                    FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              p2 AS (SELECT doc_id, w1, w2 FROM p WHERE w2 IS NOT NULL),
              bi AS (SELECT w1, w2, count(*) AS bi_cnt FROM p2 GROUP BY 1, 2),
              m AS (SELECT w1, sum(bi_cnt) AS w1_cnt FROM bi GROUP BY 1),
              uni AS (SELECT tok AS w2, count(*) AS u_cnt FROM w GROUP BY 1),
              tot AS (SELECT count(*)::DOUBLE AS n_total FROM w),
              scored AS (SELECT doc_id, count(*) AS n_bigrams,
                                round(avg(ln(0.7 * (bi_cnt / w1_cnt)
                                           + 0.3 * (u_cnt / n_total))), 4) AS avg_logprob
                         FROM p2 JOIN bi USING (w1, w2) JOIN m USING (w1)
                              JOIN uni USING (w2) CROSS JOIN tot
                         GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.avg_logprob
         FROM documents d LEFT JOIN scored s USING (doc_id) ORDER BY d.doc_id""",
    "text_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t,
                           len(string_split(text, ' ')) AS n FROM documents),
              k AS (SELECT doc_id, t,
                           unnest(range(0, CASE WHEN n <= 32 THEN 1
                             ELSE CAST(ceil((n - 32)::DOUBLE / 24) AS BIGINT) + 1 END))
                             AS chunk_idx
                    FROM t),
              c AS (SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                           t[CAST(chunk_idx * 24 + 1 AS INT):CAST(chunk_idx * 24 + 32 AS INT)] AS c
                    FROM k)
         SELECT doc_id, chunk_idx, CAST(len(c) AS INT) AS n_chunk_tokens,
                array_to_string(c, ' ') AS chunk_text
         FROM c ORDER BY doc_id, chunk_idx""",
    "dedup_substring_pairs" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              g AS (SELECT doc_id,
                           tok || ' ' || lead(tok,1) OVER dw || ' ' || lead(tok,2) OVER dw
                               || ' ' || lead(tok,3) OVER dw || ' ' || lead(tok,4) OVER dw
                               || ' ' || lead(tok,5) OVER dw AS gram,
                           lead(tok,5) OVER dw AS ok
                    FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              d AS (SELECT DISTINCT doc_id, gram FROM g WHERE ok IS NOT NULL),
              rare AS (SELECT gram FROM d GROUP BY gram HAVING count(*) <= 1000),
              dg AS (SELECT doc_id, gram FROM d JOIN rare USING (gram))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
         FROM dg a JOIN dg b USING (gram) WHERE a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 1 ORDER BY id_a, id_b""",
    // pigeonhole theorem: the banded-vs-brute diff is empty; any row
    // here is a recall bug, so the oracle is the typed empty set
    "dedup_simhash_exact_diff" ->
      """SELECT CAST(NULL AS BIGINT) AS id_a, CAST(NULL AS BIGINT) AS id_b,
                CAST(NULL AS INT) AS hamming WHERE 1 = 0""",
    "text_gopher_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              m AS (SELECT doc_id,
                           CAST(len(toks) AS INT) AS n_words,
                           round(list_aggregate(list_transform(toks, x -> length(x)), 'sum')::DOUBLE
                                 / len(toks), 4) AS mean_word_len,
                           round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                                 / len(toks), 4) AS alpha_ratio,
                           CAST(len(list_filter(toks,
                             x -> lower(x) IN ('the','a','and','of','to','in','is'))) AS INT) AS stop_hits
                    FROM t)
         SELECT doc_id, n_words, mean_word_len, alpha_ratio, stop_hits,
                (n_words BETWEEN 50 AND 100000) AS ok_words,
                (mean_word_len BETWEEN 3.0 AND 10.0) AS ok_word_len,
                (alpha_ratio >= 0.8) AS ok_alpha,
                (stop_hits >= 2) AS ok_stop,
                ((n_words BETWEEN 50 AND 100000) AND (mean_word_len BETWEEN 3.0 AND 10.0)
                 AND alpha_ratio >= 0.8 AND stop_hits >= 2) AS keep
         FROM m ORDER BY doc_id""",
    "text_classifier_score" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              p AS (SELECT doc_id, tok || ' ' || lead(tok) OVER dw AS gram,
                           lead(tok) OVER dw AS ok
                    FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              wt AS (SELECT doc_id,
                            CAST('0x' || substr(md5('w' || CAST(
                              CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % 1024
                            AS VARCHAR)), 1, 8) AS BIGINT) % 2001 - 1000 AS wgt
                     FROM p WHERE ok IS NOT NULL),
              s AS (SELECT doc_id, sum(wgt) AS s, count(*) AS nb FROM wt GROUP BY 1)
         SELECT t.doc_id,
                round(1.0 / (1.0 + exp(-(COALESCE(s.s, 0))::DOUBLE
                                       / (COALESCE(s.nb, 1) * 1000.0))), 4) AS score
         FROM toks t LEFT JOIN s USING (doc_id) ORDER BY t.doc_id""",
    // exact replay of kmeansAssign(k=8, iters=2): init = 8 lowest-id
    // vectors, two unrolled {assign, update-mean} rounds, final
    // assignment against the round-2 centroids
    "ann_kmeans_assign" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding,
                       x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, v AS c
                     FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
              ${kmeansAssignSql("c0", "a1")},
              ${kmeansUpdateSql("a1", "c0", "m1", "c1")},
              ${kmeansAssignSql("c1", "a2")},
              ${kmeansUpdateSql("a2", "c1", "m2", "c2")},
              ${kmeansAssignSql("c2", "a3")}
         SELECT vec_id, CAST(cluster AS INT) AS cluster,
                round(sqrt(dist2), 4) AS dist
         FROM a3 WHERE rn = 1 ORDER BY vec_id""",
    // exact replay of pcaPowerProject(2, 10): every quantization stage
    // unrolled — see pcaProjectSql
    "ann_pca_project" -> pcaProjectSql(10),
    // exact replay of domainOutliers(threshold=0.1): per-label centroid
    // = 6-decimal per-dim means, cosine rounded to 4 before the flag
    "ann_domain_outliers" ->
      """WITH e AS (SELECT vec_id, label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings WHERE embedding IS NOT NULL),
              m AS (SELECT label, pos, round(avg(val), 6) AS m
                    FROM (SELECT label, unnest(v) AS val,
                                 unnest(range(0, len(v))) AS pos FROM e)
                    GROUP BY label, pos),
              cent AS (SELECT label, list(m ORDER BY pos) AS c FROM m GROUP BY label),
              s AS (SELECT e.vec_id, e.label,
                           round(list_aggregate(list_transform(list_zip(e.v, cent.c),
                                   p -> p[1] * p[2]), 'sum')
                                 / (sqrt(list_aggregate(list_transform(e.v, x -> x * x), 'sum'))
                                  * sqrt(list_aggregate(list_transform(cent.c, x -> x * x), 'sum'))),
                                 4) AS cos_centroid
                    FROM e JOIN cent USING (label))
         SELECT vec_id, label, cos_centroid, cos_centroid < 0.1 AS is_outlier
         FROM s ORDER BY vec_id""",
    // exact replay of trainHashedClassifier(iters=2, lr=50) + scoreWithWeights:
    // iteration 1 starts from w=0 so every margin is sigmoid(0)=0.5 and the
    // gradient needs no weight join; iteration 2 joins the iter-1 weights.
    // g1/g2 both aggregate over exactly the buckets present in feats, so the
    // weight-update join is a plain inner join.
    "text_classifier_trained" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              p AS (SELECT doc_id, tok || ' ' || lead(tok) OVER dw AS gram,
                           lead(tok) OVER dw AS ok
                    FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              f0 AS (SELECT doc_id,
                            CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) % 1024 AS bucket
                     FROM p WHERE ok IS NOT NULL),
              nb AS (SELECT doc_id, count(*) AS n FROM f0 GROUP BY 1),
              feats AS (SELECT f0.doc_id, bucket, count(*)::DOUBLE / nb.n AS x
                        FROM f0 JOIN nb USING (doc_id) GROUP BY f0.doc_id, bucket, nb.n),
              lab AS (SELECT doc_id, (doc_id % 2)::DOUBLE AS y FROM documents),
              g1 AS (SELECT bucket, sum((0.5 - y) * x) AS g
                     FROM feats JOIN lab USING (doc_id) GROUP BY 1),
              w1 AS (SELECT bucket, -50.0 * g AS wt FROM g1),
              m2 AS (SELECT doc_id, y,
                            1.0 / (1.0 + exp(-sum(x * COALESCE(wt, 0)))) AS prob
                     FROM feats JOIN lab USING (doc_id) LEFT JOIN w1 USING (bucket)
                     GROUP BY doc_id, y),
              g2 AS (SELECT bucket, sum((prob - y) * x) AS g
                     FROM feats JOIN m2 USING (doc_id) GROUP BY 1),
              w2 AS (SELECT bucket, wt - 50.0 * g AS wt FROM w1 JOIN g2 USING (bucket)),
              dots AS (SELECT doc_id, sum(x * COALESCE(wt, 0)) AS dot
                       FROM feats LEFT JOIN w2 USING (bucket) GROUP BY 1)
         SELECT d.doc_id,
                round(1.0 / (1.0 + exp(-COALESCE(dots.dot, 0))), 4) AS score
         FROM documents d LEFT JOIN dots USING (doc_id) ORDER BY d.doc_id""",
    "dedup_span_rewrite" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                           CAST((len(string_split(text, ' ')) + 2) // 3 AS INT) AS n_spans
                    FROM documents),
              s AS (SELECT doc_id, toks,
                           CAST(unnest(range(0, n_spans)) AS INT) AS span_idx
                    FROM t),
              sp AS (SELECT doc_id, span_idx,
                            array_to_string(toks[span_idx*3+1 : span_idx*3+3], ' ') AS span
                     FROM s),
              kept AS (SELECT doc_id, span_idx, span,
                              row_number() OVER (PARTITION BY span
                                ORDER BY doc_id, span_idx) AS rn
                       FROM sp),
              rebuilt AS (SELECT doc_id,
                                 array_to_string(list(span ORDER BY span_idx), ' ') AS clean_text,
                                 count(*) AS n_kept
                          FROM kept WHERE rn = 1 GROUP BY doc_id)
         SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text, t.n_spans,
                COALESCE(r.n_kept, 0) AS n_kept
         FROM t LEFT JOIN rebuilt r USING (doc_id) ORDER BY t.doc_id""",
    "ann_knn_classify" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
              scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id, e.label, $cosineSql AS score
                FROM (SELECT * FROM embeddings WHERE vec_id >= 10) e CROSS JOIN q),
              ranked AS (SELECT query_id, label,
                                row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS rn
                         FROM scored),
              votes AS (SELECT query_id, label AS pred_label, count(*) AS votes
                        FROM ranked WHERE rn <= 5 GROUP BY 1, 2),
              win AS (SELECT query_id, pred_label, votes,
                             row_number() OVER (PARTITION BY query_id
                               ORDER BY votes DESC, pred_label) AS wrn
                      FROM votes)
         SELECT query_id, pred_label, votes FROM win WHERE wrn = 1 ORDER BY query_id""",
    "text_novelty" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              g AS (SELECT doc_id,
                           tok || ' ' || lead(tok,1) OVER dw || ' ' || lead(tok,2) OVER dw AS gram,
                           lead(tok,2) OVER dw AS ok
                    FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              d AS (SELECT DISTINCT doc_id, gram FROM g WHERE ok IS NOT NULL),
              f AS (SELECT gram, min(doc_id) AS first_id FROM d GROUP BY 1),
              per AS (SELECT d.doc_id, count(*) AS n_grams,
                             sum(CASE WHEN f.first_id = d.doc_id THEN 1 ELSE 0 END) AS novel
                      FROM d JOIN f USING (gram) GROUP BY 1)
         SELECT doc.doc_id,
                COALESCE(per.n_grams, 0) AS n_grams,
                round(COALESCE(CAST(per.novel AS DOUBLE) / per.n_grams, 0.0), 4) AS novelty
         FROM documents doc LEFT JOIN per USING (doc_id) ORDER BY doc.doc_id""",
    "text_boilerplate" ->
      """WITH p AS (SELECT source,
                           array_to_string((string_split(lower(text), ' '))[1:3], ' ') AS prefix
                    FROM documents),
              c AS (SELECT source, prefix, count(*) AS n_with_prefix
                    FROM p GROUP BY 1, 2),
              r AS (SELECT source, prefix, n_with_prefix,
                           CAST(sum(n_with_prefix) OVER (PARTITION BY source) AS BIGINT)
                             AS n_docs,
                           row_number() OVER (PARTITION BY source
                             ORDER BY n_with_prefix DESC, prefix) AS rn
                    FROM c)
         SELECT source, prefix AS top_prefix, n_with_prefix, n_docs,
                round(n_with_prefix * 10000.0 / n_docs) / 10000.0 AS frac
         FROM r WHERE rn = 1 ORDER BY source""",
    "dedup_norm_collisions" ->
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_fp,
                min(doc_id) AS keeper, count(*) AS copies,
                count(DISTINCT text) AS distinct_raw
         FROM documents GROUP BY 1
         HAVING count(*) >= 2 AND count(DISTINCT text) >= 2
         ORDER BY keeper""",
    "sample_interleave" ->
      """SELECT doc_id, source,
                CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS INT) AS pass
         FROM documents ORDER BY pass, source, doc_id""",
    "text_vocab_encode" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              vc AS (SELECT tok, count(*) AS cnt FROM w GROUP BY 1
                     ORDER BY cnt DESC, tok LIMIT 512),
              vocab AS (SELECT tok, CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS INT)
                               AS token_id FROM vc)
         SELECT w.doc_id, count(*) AS n_tokens,
                count(*) FILTER (WHERE vocab.token_id IS NULL) AS n_oov,
                array_to_string(list(COALESCE(vocab.token_id, 0) ORDER BY w.ord), ' ')
                  AS ids
         FROM w LEFT JOIN vocab ON vocab.tok = w.tok
         GROUP BY w.doc_id ORDER BY w.doc_id""",
    // gate -> span-rewrite -> mixture, replayed stage by stage; the span
    // election runs over the GATED corpus only (ordering matters)
    "pipeline_curation_v2" ->
      """WITH m0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              m AS (SELECT doc_id,
                           CAST(len(toks) AS INT) AS n_words,
                           round(list_aggregate(list_transform(toks, x -> length(x)), 'sum')::DOUBLE
                                 / len(toks), 4) AS mean_word_len,
                           round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                                 / len(toks), 4) AS alpha_ratio,
                           CAST(len(list_filter(toks,
                             x -> lower(x) IN ('the','a','and','of','to','in','is'))) AS INT) AS stop_hits
                    FROM m0),
              g AS (SELECT d.doc_id, d.text, d.source
                    FROM documents d JOIN m USING (doc_id)
                    WHERE (m.n_words BETWEEN 50 AND 100000)
                      AND (m.mean_word_len BETWEEN 3.0 AND 10.0)
                      AND m.alpha_ratio >= 0.8 AND m.stop_hits >= 2),
              t AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
                           CAST((len(string_split(text, ' ')) + 2) // 3 AS INT) AS n_spans
                    FROM g),
              s AS (SELECT doc_id, toks,
                           CAST(unnest(range(0, n_spans)) AS INT) AS span_idx
                    FROM t),
              sp AS (SELECT doc_id, span_idx,
                            array_to_string(toks[span_idx*3+1 : span_idx*3+3], ' ') AS span
                     FROM s),
              kept AS (SELECT doc_id, span_idx, span,
                              row_number() OVER (PARTITION BY span
                                ORDER BY doc_id, span_idx) AS rn
                       FROM sp),
              rebuilt AS (SELECT doc_id,
                                 array_to_string(list(span ORDER BY span_idx), ' ') AS clean_text
                          FROM kept WHERE rn = 1 GROUP BY doc_id),
              tok AS (SELECT t.doc_id, t.source,
                             CAST(CASE WHEN COALESCE(r.clean_text, '') = '' THEN 0
                                       ELSE len(string_split(r.clean_text, ' ')) END AS INT)
                               AS n_tokens
                      FROM t LEFT JOIN rebuilt r USING (doc_id)),
              wt AS (SELECT 'src' || CAST(i AS VARCHAR) AS source,
                            CAST(floor(5000 * (CAST(i + 1 AS DOUBLE) / 210.0)) AS BIGINT)
                              AS stratum_budget
                     FROM range(0, 20) q(i)),
              c AS (SELECT doc_id, source, n_tokens,
                           CAST(sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                             AS cum_tokens
                    FROM tok)
         SELECT c.doc_id, c.source, c.n_tokens, c.cum_tokens
         FROM c JOIN wt USING (source)
         WHERE c.cum_tokens <= wt.stratum_budget
         ORDER BY c.doc_id""",
    "text_dedup_savings" ->
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks,
                           CAST((len(string_split(text, ' ')) + 2) // 3 AS INT) AS n_spans,
                           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_before
                    FROM documents),
            s AS (SELECT doc_id, toks,
                         CAST(unnest(range(0, n_spans)) AS INT) AS span_idx
                  FROM t),
            sp AS (SELECT doc_id, span_idx,
                          array_to_string(toks[span_idx*3+1 : span_idx*3+3], ' ') AS span
                   FROM s),
            kept AS (SELECT doc_id, span_idx, span,
                            row_number() OVER (PARTITION BY span
                              ORDER BY doc_id, span_idx) AS rn
                     FROM sp),
            rebuilt AS (SELECT doc_id,
                               array_to_string(list(span ORDER BY span_idx), ' ') AS clean_text
                        FROM kept WHERE rn = 1 GROUP BY doc_id),
            per AS (SELECT t.doc_id, t.source, t.n_before,
                           CAST(CASE WHEN COALESCE(r.clean_text, '') = '' THEN 0
                                     ELSE len(string_split(r.clean_text, ' ')) END AS BIGINT)
                             AS n_after
                    FROM t LEFT JOIN rebuilt r USING (doc_id))
         SELECT source,
                CAST(sum(n_before) AS BIGINT) AS tokens_before,
                CAST(sum(n_after) AS BIGINT) AS tokens_after,
                round(CAST(1 AS DOUBLE)
                      - CAST(sum(n_after) AS DOUBLE) / sum(n_before), 4)
                  AS removed_frac
         FROM per GROUP BY source ORDER BY source""",
    "text_domain_kl" ->
      """WITH toks AS MATERIALIZED (
              SELECT d.source, unnest(string_split(lower(d.text), ' ')) AS tok
              FROM documents d),
            pt AS MATERIALIZED (SELECT tok, count(*) AS c_t FROM toks GROUP BY tok),
            v AS (SELECT count(*) AS vs FROM pt),
            ns AS (SELECT source, count(*) AS n_s FROM toks GROUP BY source),
            nt AS (SELECT count(*) AS n FROM toks),
            st AS MATERIALIZED (
              SELECT source, tok, count(*) AS c_st FROM toks GROUP BY 1, 2),
            grid AS (SELECT ns.source, ns.n_s, pt.tok, pt.c_t,
                            COALESCE(st.c_st, 0) AS c_st
                     FROM ns CROSS JOIN pt
                     LEFT JOIN st ON st.source = ns.source AND st.tok = pt.tok)
         SELECT source,
                round(sum(
                  (CAST(c_st + 1 AS DOUBLE) / (n_s + (SELECT vs FROM v)))
                  * ln((CAST(c_st + 1 AS DOUBLE) / (n_s + (SELECT vs FROM v)))
                       / (CAST(c_t + 1 AS DOUBLE)
                          / ((SELECT n FROM nt) + (SELECT vs FROM v))))), 4) AS kl,
                max(n_s) AS tokens
         FROM grid GROUP BY source ORDER BY source""",
    "sample_epochs" ->
      """WITH wt AS (SELECT 'src' || CAST(i AS VARCHAR) AS source,
                            CAST(floor(200000 * (CAST(i + 1 AS DOUBLE) / 210.0)) AS BIGINT)
                              AS target_tokens
                     FROM range(0, 20) q(i)),
            d AS (SELECT doc_id, source,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                  FROM documents),
            base AS (SELECT d.source,
                            CAST(sum(d.n_tokens) AS BIGINT) AS corpus_tokens,
                            wt.target_tokens
                     FROM d JOIN wt USING (source)
                     GROUP BY d.source, wt.target_tokens
                     HAVING sum(d.n_tokens) > 0),
            b2 AS (SELECT source, corpus_tokens, target_tokens,
                          target_tokens // corpus_tokens AS full_epochs,
                          target_tokens - (target_tokens // corpus_tokens) * corpus_tokens
                            AS partial_budget
                   FROM base),
            c AS (SELECT d.doc_id, d.source, d.n_tokens, b2.partial_budget,
                         CAST(sum(d.n_tokens) OVER (PARTITION BY d.source
                           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                           AS cum
                  FROM d JOIN b2 USING (source)),
            p AS (SELECT source, count(*) AS partial_docs,
                         CAST(sum(n_tokens) AS BIGINT) AS partial_tokens
                  FROM c WHERE cum <= partial_budget GROUP BY source)
         SELECT b2.source, b2.corpus_tokens, b2.target_tokens,
                b2.full_epochs, b2.partial_budget,
                COALESCE(p.partial_docs, 0) AS partial_docs,
                COALESCE(p.partial_tokens, 0) AS partial_tokens
         FROM b2 LEFT JOIN p USING (source) ORDER BY b2.source""",
    "text_corpus_report" ->
      s"""SELECT source, count(*) AS docs,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
                 round(CAST(1 AS DOUBLE)
                       - CAST(count(DISTINCT text) AS DOUBLE) / count(*), 4)
                   AS exact_dup_rate,
                 round(avg($qualitySql), 4) AS avg_quality
          FROM documents GROUP BY source ORDER BY source""",
    "text_oov_rate" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              vc AS (SELECT tok, count(*) AS cnt FROM w GROUP BY 1
                     ORDER BY cnt DESC, tok LIMIT 16),
              per AS (SELECT w.doc_id, count(*) AS n_tokens,
                             sum(CASE WHEN vc.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
                      FROM w LEFT JOIN vc ON vc.tok = w.tok
                      GROUP BY w.doc_id)
         SELECT d.source, CAST(sum(per.n_tokens) AS BIGINT) AS tokens,
                CAST(sum(per.n_oov) AS BIGINT) AS oov,
                round(sum(per.n_oov) * 10000.0 / sum(per.n_tokens)) / 10000.0 AS oov_rate
         FROM per JOIN documents d ON d.doc_id = per.doc_id
         GROUP BY d.source ORDER BY d.source""",
    "text_novelty_incr" ->
      s"""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              $TOKSTREAM,
              g AS (SELECT doc_id,
                           tok || ' ' || lead(tok,1) OVER dw || ' ' || lead(tok,2) OVER dw AS gram,
                           lead(tok,2) OVER dw AS ok
                    FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              d AS (SELECT DISTINCT doc_id, gram FROM g WHERE ok IS NOT NULL),
              seen AS (SELECT DISTINCT gram FROM d WHERE doc_id % 4 <> 0),
              per AS (SELECT d.doc_id, count(*) AS n_grams,
                             sum(CASE WHEN seen.gram IS NULL THEN 1 ELSE 0 END) AS newg
                      FROM d LEFT JOIN seen ON seen.gram = d.gram
                      WHERE d.doc_id % 4 = 0 GROUP BY 1)
         SELECT doc.doc_id,
                COALESCE(per.n_grams, 0) AS n_grams,
                round(COALESCE(CAST(per.newg AS DOUBLE) / per.n_grams, 0.0), 4) AS new_frac
         FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) doc
         LEFT JOIN per USING (doc_id) ORDER BY doc.doc_id""",
    "text_bm25_topk" ->
      s"""WITH base AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              dlen AS (SELECT doc_id, len(t) AS dl FROM base),
              stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dlen),
              w AS (SELECT doc_id, unnest(t) AS tok FROM base),
              tf AS (SELECT w.doc_id, dlen.dl, w.tok, CAST(count(*) AS DOUBLE) AS tf
                     FROM w JOIN dlen USING (doc_id)
                     WHERE w.tok IN ('vector', 'scan', 'merge')
                     GROUP BY 1, 2, 3),
              idf AS (SELECT tok,
                             round(ln(1.0 + ((SELECT n FROM stats) - CAST(count(*) AS DOUBLE) + 0.5)
                                            / (CAST(count(*) AS DOUBLE) + 0.5)), 6) AS idf
                      FROM tf GROUP BY tok),
              sc AS (SELECT tf.doc_id,
                            round(sum(round(idf.idf * tf.tf * CAST(2.2 AS DOUBLE)
                              / (tf.tf + CAST(1.2 AS DOUBLE) *
                                  (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * tf.dl
                                    / (SELECT avgdl FROM stats))), 6)), 4) AS score
                     FROM tf JOIN idf USING (tok) GROUP BY 1),
              ranked AS (SELECT doc_id, score,
                                CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS "rank"
                         FROM sc)
         SELECT doc_id, score, "rank" FROM ranked WHERE "rank" <= 10 ORDER BY "rank"""",
    "text_rrf_fusion" ->
      s"""WITH base AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              dlen AS (SELECT doc_id, len(t) AS dl FROM base),
              stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dlen),
              w AS (SELECT doc_id, unnest(t) AS tok FROM base),
              tf AS (SELECT w.doc_id, dlen.dl, w.tok, CAST(count(*) AS DOUBLE) AS tf
                     FROM w JOIN dlen USING (doc_id)
                     WHERE w.tok IN ('vector', 'scan', 'merge')
                     GROUP BY 1, 2, 3),
              idf AS (SELECT tok,
                             round(ln(1.0 + ((SELECT n FROM stats) - CAST(count(*) AS DOUBLE) + 0.5)
                                            / (CAST(count(*) AS DOUBLE) + 0.5)), 6) AS idf
                      FROM tf GROUP BY tok),
              bsc AS (SELECT tf.doc_id,
                             round(sum(round(idf.idf * tf.tf * CAST(2.2 AS DOUBLE)
                               / (tf.tf + CAST(1.2 AS DOUBLE) *
                                   (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * tf.dl
                                     / (SELECT avgdl FROM stats))), 6)), 4) AS score
                      FROM tf JOIN idf USING (tok) GROUP BY 1),
              lexr AS (SELECT doc_id,
                              CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS lex_rank
                       FROM bsc),
              lex AS (SELECT doc_id, lex_rank FROM lexr WHERE lex_rank <= 50),
              q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id = 0),
              csc AS (SELECT e.vec_id AS doc_id, $cosineSql AS score
                      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
              semr AS (SELECT doc_id,
                              CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS sem_rank
                       FROM csc),
              sem AS (SELECT doc_id, sem_rank FROM semr WHERE sem_rank <= 50),
              fused AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
                               lex_rank, sem_rank,
                               round(COALESCE(CAST(1.0 AS DOUBLE) / (lex_rank + 60), CAST(0 AS DOUBLE))
                                     + COALESCE(CAST(1.0 AS DOUBLE) / (sem_rank + 60), CAST(0 AS DOUBLE)), 6)
                                 AS rrf_score
                        FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
              ranked AS (SELECT doc_id, lex_rank, sem_rank, rrf_score,
                                CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS "rank"
                         FROM fused)
         SELECT doc_id, lex_rank, sem_rank, rrf_score, "rank" FROM ranked
         WHERE "rank" <= 10 ORDER BY "rank"""",
    "sample_quantile_filter" ->
      s"""WITH sc AS (SELECT doc_id, source, $qualitySql AS q FROM documents),
              ranked AS (SELECT doc_id, source, q,
                                row_number() OVER (PARTITION BY source ORDER BY q, doc_id) AS rn,
                                count(*) OVER (PARTITION BY source) AS n
                         FROM sc),
              thr AS (SELECT source, q AS thr FROM ranked
                      WHERE rn = CAST(ceil(0.75 * n) AS BIGINT))
         SELECT s.doc_id, s.source, s.q
         FROM sc s JOIN thr USING (source) WHERE s.q >= thr.thr
         ORDER BY s.doc_id""",
    "graph_pagerank" -> pagerankSql,
    "graph_kcore" -> kcoreSql,
    "ann_kcenter" -> kcenterSql,
    // recall contract: quantizer cells are engine-defined, the accuracy
    // floor is not — the oracle is the typed empty violation set
    "ann_recall_contract" ->
      """SELECT CAST(NULL AS VARCHAR) AS check,
                CAST(NULL AS BIGINT) AS query_id,
                CAST(NULL AS DOUBLE) AS recall WHERE 1 = 0""",
    // subset-of-exact and equal-at-nlist=1 are theorems — typed empty
    // set (pins the machinery independently of semdedup_cells_keepers'
    // round-13 decision-fixture oracle)
    "semdedup_cells_check" ->
      """SELECT CAST(NULL AS VARCHAR) AS check,
                CAST(NULL AS BIGINT) AS id_a,
                CAST(NULL AS BIGINT) AS id_b WHERE 1 = 0""",
    // both theorems (sorted-subset dominance; score parity) admit no
    // violation rows — typed empty set
    "ann_lsh_check" ->
      """SELECT CAST(NULL AS VARCHAR) AS check,
                CAST(NULL AS BIGINT) AS query_id,
                CAST(NULL AS BIGINT) AS detail WHERE 1 = 0""",
    // pool containment at the measured-with-margin bound — empty set
    "ann_pq_check" ->
      """SELECT CAST(NULL AS VARCHAR) AS check,
                CAST(NULL AS BIGINT) AS query_id,
                CAST(NULL AS BIGINT) AS neighbor_id WHERE 1 = 0""",
    "ann_drift" ->
      """WITH ex AS (SELECT vec_id, label, unnest(embedding) AS val,
                            unnest(range(0, len(embedding))) AS pos FROM embeddings),
              r AS (SELECT label, pos, round(avg(CAST(val AS DOUBLE)), 6) AS mr
                    FROM ex WHERE vec_id % 2 = 0 GROUP BY 1, 2),
              c AS (SELECT label, pos, round(avg(CAST(val AS DOUBLE)), 6) AS mc
                    FROM ex WHERE vec_id % 2 = 1 GROUP BY 1, 2),
              cos AS (SELECT r.label,
                             round(sum(mr * mc) / (sqrt(sum(mr * mr)) * sqrt(sum(mc * mc))), 4)
                               AS drift_cosine
                      FROM r JOIN c USING (label, pos) GROUP BY 1),
              nr AS (SELECT label, count(*) AS n_ref FROM embeddings
                     WHERE vec_id % 2 = 0 GROUP BY 1),
              nc AS (SELECT label, count(*) AS n_cur FROM embeddings
                     WHERE vec_id % 2 = 1 GROUP BY 1)
         SELECT cos.label, n_ref, n_cur, drift_cosine
         FROM cos JOIN nr USING (label) JOIN nc USING (label) ORDER BY label""",
    "ann_int8_topk" ->
      s"""WITH z AS MATERIALIZED (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
                         / (greatest(list_aggregate(list_transform(embedding,
                              y -> abs(CAST(y AS DOUBLE))), 'max'), 1e-30)
                            / CAST(127.0 AS DOUBLE)) + 0.5) AS BIGINT)) AS qv
                FROM embeddings),
              q AS (SELECT vec_id AS query_id, qv AS quv FROM z WHERE vec_id < 5),
              scored AS (
                SELECT q.query_id, z.vec_id AS neighbor_id,
                       -- zero-code vectors score 0.0, mirroring int8Cosine's
                       -- NaN guard (NaN would sort above every real score)
                       round(CASE WHEN sqrt(CAST(list_aggregate(list_transform(z.qv, x -> x * x), 'sum') AS DOUBLE))
                                     * sqrt(CAST(list_aggregate(list_transform(q.quv, x -> x * x), 'sum') AS DOUBLE)) = 0
                                  THEN 0.0
                                  ELSE CAST(list_aggregate(list_transform(list_zip(z.qv, q.quv),
                                         p -> p[1] * p[2]), 'sum') AS DOUBLE)
                                       / (sqrt(CAST(list_aggregate(list_transform(z.qv, x -> x * x), 'sum') AS DOUBLE))
                                        * sqrt(CAST(list_aggregate(list_transform(q.quv, x -> x * x), 'sum') AS DOUBLE)))
                             END, 4) AS score
                FROM z CROSS JOIN q WHERE z.vec_id <> q.query_id),
              ranked AS (SELECT query_id, neighbor_id, score,
                                row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, neighbor_id) AS "rank"
                         FROM scored)
         SELECT query_id, neighbor_id, score, "rank" FROM ranked
         WHERE "rank" <= 5 ORDER BY query_id, "rank"""",
    "text_lm_quality" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                       FROM documents),
              vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
              tot AS (SELECT count(*)::DOUBLE AS n_total FROM toks)
         SELECT doc_id, count(*) AS n_tokens,
                round(avg(ln(cnt / n_total)), 4) AS avg_logprob
         FROM toks JOIN vocab USING (tok) CROSS JOIN tot
         GROUP BY doc_id ORDER BY doc_id""",
    "text_tfidf_terms" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                       FROM documents),
              tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
              dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
              n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
              scored AS (SELECT doc_id, tok, tf, df,
                                tf * ln((n_docs + 1) / (df + 1)) AS tfidf
                         FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
              ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, tok ASC) AS rank
                         FROM scored)
         SELECT doc_id, rank, tok, tf, df, round(tfidf, 4) AS tfidf
         FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""",
    "sample_balanced" ->
      """WITH r AS (SELECT vec_id, label,
                           row_number() OVER (PARTITION BY label
                             ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
                    FROM embeddings),
              m AS (SELECT min(cnt) AS mn
                    FROM (SELECT count(*) AS cnt FROM embeddings GROUP BY label))
         SELECT vec_id, label FROM r, m WHERE rn <= mn ORDER BY vec_id""",
    "sample_stratified" ->
      """WITH r AS (SELECT doc_id, source,
                           row_number() OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                    FROM documents)
         SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""",
    // Neyman allocation replay: same 6/9-decimal + floor(x+0.5)
    // quantization ladder as the engine
    "sample_neyman" ->
      """WITH stats AS (
              SELECT source, count(*) AS n,
                     round(coalesce(stddev_pop(n_chars), CAST(0 AS DOUBLE)), 6) AS sd
              FROM documents GROUP BY source),
            tw AS (SELECT sum(n * sd) AS w FROM stats),
            alloc AS (
              SELECT source,
                     CAST(floor(CAST(100 AS DOUBLE)
                                * round(n * sd / (SELECT w FROM tw), 9)
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS a
              FROM stats),
            ranked AS (
              SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
              FROM documents)
         SELECT r.doc_id, r.source, r.n_chars
         FROM ranked r JOIN alloc USING (source) WHERE rn <= a
         ORDER BY doc_id""",
    "sample_token_budget" ->
      """WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents),
              c AS (SELECT doc_id, source, n_tokens,
                           CAST(sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                    FROM d)
         SELECT doc_id, source, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= 600 ORDER BY doc_id""",
    "sample_mixture" ->
      """WITH wt AS (SELECT 'src' || CAST(i AS VARCHAR) AS source,
                            CAST(floor(10000 * (CAST(i + 1 AS DOUBLE) / 210.0)) AS BIGINT)
                              AS stratum_budget
                     FROM range(0, 20) t(i)),
              d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents),
              c AS (SELECT doc_id, source, n_tokens,
                           CAST(sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                    FROM d)
         SELECT doc_id, c.source, n_tokens, cum_tokens, stratum_budget
         FROM c JOIN wt ON c.source = wt.source
         WHERE cum_tokens <= stratum_budget ORDER BY doc_id""",
    // exact replay of temperatureSample(alpha=0.5, budget=10000): shares
    // = sqrt-flattened token mass rounded to 9 decimals, floor cut, md5
    // admission — same window as sample_mixture with DERIVED budgets
    "sample_temperature" ->
      """WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents),
              t AS (SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS tt FROM d GROUP BY source),
              b AS (SELECT source,
                           CAST(floor(10000.0 * round(pow(tt, 0.5)
                             / sum(pow(tt, 0.5)) OVER (), 9)) AS BIGINT) AS stratum_budget
                    FROM t),
              c AS (SELECT doc_id, source, n_tokens,
                           CAST(sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                    FROM d)
         SELECT doc_id, c.source, n_tokens, cum_tokens, stratum_budget
         FROM c JOIN b ON c.source = b.source
         WHERE cum_tokens <= stratum_budget ORDER BY doc_id""",
    "dedup_minhash_pairs" ->
      s"""WITH sh AS (SELECT doc_id, ${wordShinglesSql("text")} AS s FROM documents),
          scored AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ${jaccardSql("a.s", "b.s")} AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
          SELECT id_a, id_b, jaccard FROM scored
          WHERE jaccard >= 0.5 ORDER BY id_a, id_b""",
    "dedup_incremental_pairs" -> incrementalPairsSql,
    "dedup_lsh_index" -> incrementalPairsSql,
    "dedup_ngram_pairs" ->
      s"""WITH g AS (SELECT doc_id, ${charGramsSql("text")} AS grams
                     FROM documents WHERE doc_id < 100),
          scored AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ${jaccardSql("a.grams", "b.grams")} AS sim
            FROM g a JOIN g b ON a.doc_id < b.doc_id)
          SELECT id_a, id_b, sim FROM scored
          WHERE sim >= 0.5 ORDER BY id_a, id_b""",
    "dedup_containment_pairs" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
              w AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS ord FROM toks),
              g2 AS (SELECT doc_id,
                            tok || ' ' || lead(tok, 1) OVER dw || ' ' || lead(tok, 2) OVER dw AS gram,
                            lead(tok, 2) OVER dw AS ok
                     FROM w WINDOW dw AS (PARTITION BY doc_id ORDER BY ord)),
              d AS (SELECT DISTINCT doc_id, gram FROM g2 WHERE ok IS NOT NULL),
              df AS (SELECT gram, count(*) AS df FROM d GROUP BY 1),
              r AS (SELECT d.doc_id, d.gram FROM d JOIN df USING (gram) WHERE df.df <= 1000),
              sz AS (SELECT doc_id, count(*) AS sz FROM r GROUP BY 1),
              inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
                        FROM r a JOIN r b ON a.gram = b.gram AND a.doc_id < b.doc_id
                        GROUP BY 1, 2)
         SELECT id_a, id_b, inter, sa.sz AS size_a, sb.sz AS size_b,
                round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 4) AS overlap
         FROM inter JOIN sz sa ON sa.doc_id = inter.id_a
                    JOIN sz sb ON sb.doc_id = inter.id_b
         WHERE round(CAST(inter AS DOUBLE) / least(sa.sz, sb.sz), 4) >= 0.6
         ORDER BY id_a, id_b""",
    // the cluster-keepers recursive closure, re-labeled: every member
    // inherits the md5 split of its cluster's min id (split thresholds
    // are sample_split_assign's 0.8/0.1/0.1 hex bounds)
    "sample_leakage_split" ->
      s"""WITH RECURSIVE g AS (
            SELECT doc_id, ${charGramsSql("text")} AS grams
            FROM documents WHERE doc_id < 100),
          edges AS (
            SELECT a.doc_id AS src, b.doc_id AS dst FROM g a JOIN g b
            ON a.doc_id <> b.doc_id
            WHERE ${jaccardSql("a.grams", "b.grams")} >= 0.5),
          reach AS (
            SELECT doc_id AS id, doc_id AS r FROM g
            UNION
            SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
          lab AS (SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id)
          SELECT doc_id, cluster,
                 CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
                      WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
                      ELSE 'test' END AS split
          FROM lab ORDER BY doc_id""",
    "graph_triangles" ->
      s"""WITH g AS MATERIALIZED (
            SELECT doc_id, ${charGramsSql("text")} AS grams
            FROM documents WHERE doc_id < 100),
          p AS MATERIALIZED (
            SELECT a.doc_id AS u, b.doc_id AS v FROM g a JOIN g b
            ON a.doc_id < b.doc_id
            WHERE ${jaccardSql("a.grams", "b.grams")} >= 0.5),
          deg AS MATERIALIZED (
            SELECT id, count(*) AS deg FROM (
              SELECT u AS id FROM p UNION ALL SELECT v FROM p) GROUP BY 1),
          o AS MATERIALIZED (
            SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
                        THEN p.u ELSE p.v END AS src,
                   CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
                        THEN p.v ELSE p.u END AS dst,
                   CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND p.u < p.v)
                        THEN dv.deg ELSE du.deg END AS ddst
            FROM p JOIN deg du ON du.id = p.u JOIN deg dv ON dv.id = p.v),
          tri AS (
            SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
            FROM o w1 JOIN o w2 ON w1.src = w2.src
             AND (w1.ddst < w2.ddst OR (w1.ddst = w2.ddst AND w1.dst < w2.dst))
            JOIN o e ON e.src = w1.dst AND e.dst = w2.dst),
          cnt AS (SELECT id, count(*) AS triangles FROM (
                    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
                    UNION ALL SELECT c FROM tri) GROUP BY 1),
          nodes AS (SELECT doc_id AS id FROM documents WHERE doc_id < 100)
          SELECT nodes.id, COALESCE(cnt.triangles, 0) AS triangles
          FROM nodes LEFT JOIN cnt USING (id) ORDER BY nodes.id""",
    "dedup_cluster_keepers" ->
      s"""WITH RECURSIVE g AS (
            SELECT doc_id, ${charGramsSql("text")} AS grams
            FROM documents WHERE doc_id < 100),
          edges AS (
            SELECT a.doc_id AS src, b.doc_id AS dst FROM g a JOIN g b
            ON a.doc_id <> b.doc_id
            WHERE ${jaccardSql("a.grams", "b.grams")} >= 0.5),
          reach AS (
            SELECT doc_id AS id, doc_id AS r FROM g
            UNION
            SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
          SELECT id AS doc_id FROM (
            SELECT id, min(r) AS cluster FROM reach GROUP BY id) t
          WHERE id = cluster ORDER BY doc_id""",
    // same recursive-CTE closure as dedup_cluster_keepers, but the
    // keeper is the max-quality member (ties to lower id) per cluster
    "dedup_best_keepers" ->
      s"""WITH RECURSIVE g AS (
            SELECT doc_id, ${charGramsSql("text")} AS grams, $qualitySql AS quality
            FROM documents WHERE doc_id < 100),
          edges AS (
            SELECT a.doc_id AS src, b.doc_id AS dst FROM g a JOIN g b
            ON a.doc_id <> b.doc_id
            WHERE ${jaccardSql("a.grams", "b.grams")} >= 0.5),
          reach AS (
            SELECT doc_id AS id, doc_id AS r FROM g
            UNION
            SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
          lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
          ranked AS (
            SELECT lab.id, lab.cluster, g.quality,
                   row_number() OVER (PARTITION BY lab.cluster
                     ORDER BY g.quality DESC, lab.id) AS rn
            FROM lab JOIN g ON g.doc_id = lab.id)
          SELECT id AS doc_id, cluster, quality FROM ranked
          WHERE rn = 1 ORDER BY doc_id""",
    "dedup_topk_keepers" ->
      s"""WITH RECURSIVE g AS (
            SELECT doc_id, ${charGramsSql("text")} AS grams, $qualitySql AS quality
            FROM documents WHERE doc_id < 100),
          edges AS (
            SELECT a.doc_id AS src, b.doc_id AS dst FROM g a JOIN g b
            ON a.doc_id <> b.doc_id
            WHERE ${jaccardSql("a.grams", "b.grams")} >= 0.5),
          reach AS (
            SELECT doc_id AS id, doc_id AS r FROM g
            UNION
            SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
          lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
          ranked AS (
            SELECT lab.id, lab.cluster, g.quality,
                   CAST(row_number() OVER (PARTITION BY lab.cluster
                     ORDER BY g.quality DESC, lab.id) AS INT) AS rn
            FROM lab JOIN g ON g.doc_id = lab.id)
          SELECT id AS doc_id, cluster, quality, rn AS "rank" FROM ranked
          WHERE rn <= 2 ORDER BY doc_id""",
    "mm_features" ->
      """WITH b AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                       WHEN doc_id % 3 = 1 THEN 'audio/wav'
                       ELSE 'video/mp4' END AS format,
                  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                  list_transform(range(1, length(text) + 1),
                    i -> CAST(unicode(substr(text, CAST(i AS INT), 1)) AS BIGINT)) AS bytes
           FROM documents)
         SELECT doc_id, format, n_bytes,
                round(list_aggregate(bytes, 'avg'), 4) AS byte_mean,
                CAST(list_aggregate(bytes, 'max') AS INT) AS byte_max,
                CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bytes[1:8]),
                     (acc, x) -> acc * 31 + x) AS BIGINT) AS head_checksum
         FROM b ORDER BY doc_id""",
    "pipeline_curation" ->
      s"""WITH q AS (
            SELECT doc_id, source, text FROM documents
            WHERE doc_id % 97 <> 0 AND
              round(
                least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4 +
                least(round(CAST(len(${stopSql()}) AS DOUBLE) / len(string_split(text, ' ')), 4) * 5.0, 1.0) * 0.4 +
                (1.0 - round(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE) / length(text), 4)) * 0.2,
                4) >= 0.5),
          ded AS (
            SELECT doc_id, source, text FROM (
              SELECT doc_id, source, text,
                     row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
              FROM q) t WHERE rn = 1),
          dtoks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM ded),
          etoks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                    FROM documents WHERE doc_id % 97 = 0),
          dw AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS ord FROM dtoks),
          ew AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS ord FROM etoks),
          dg AS (SELECT DISTINCT doc_id,
                        tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS gram
                 FROM dw WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
                 QUALIFY lead(tok,2) OVER w IS NOT NULL),
          eg AS (SELECT DISTINCT doc_id,
                        tok || ' ' || lead(tok,1) OVER w || ' ' || lead(tok,2) OVER w AS gram
                 FROM ew WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
                 QUALIFY lead(tok,2) OVER w IS NOT NULL),
          contam AS (
            SELECT DISTINCT train_doc AS doc_id FROM (
              SELECT dg.doc_id AS train_doc, eg.doc_id AS eval_doc
              FROM dg JOIN eg USING (gram)
              GROUP BY 1, 2 HAVING count(*) >= 2) p),
          keep AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
          wt AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM keep),
          c AS (SELECT doc_id, source, n_tokens,
                       CAST(sum(n_tokens) OVER (PARTITION BY source
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
                FROM wt)
          SELECT doc_id, source, n_tokens, cum_tokens FROM c
          WHERE cum_tokens <= 400 ORDER BY doc_id""",
    "sample_weighted" ->
      """WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents),
              t AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total_w FROM d)
         SELECT doc_id, source, CAST(n_tokens AS INT) AS n_tokens
         FROM d, t
         WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS DOUBLE) * total_w
               < 60.0 * CAST(n_tokens AS DOUBLE) * 4294967296.0
         ORDER BY doc_id""",
    "sample_split_assign" ->
      """WITH a AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
                           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
                                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
                                ELSE 'test' END AS split
                    FROM documents)
         SELECT split, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
         FROM a GROUP BY 1 ORDER BY 1""",
    "sample_pack_chunks" ->
      """WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents),
              c AS (SELECT doc_id, source, n_tokens,
                           CAST(sum(n_tokens) OVER (PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                    FROM d)
         SELECT doc_id, source, n_tokens,
                CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS first_chunk,
                CAST(floor((cum - 1) / 512.0) AS BIGINT) AS last_chunk
         FROM c ORDER BY doc_id""",
    "sample_global_shards" ->
      """WITH d AS (SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                  ((doc_id % 2147483648) * 2654435761 + 41) % 4294967296 AS h
           FROM documents),
         t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM d),
         c AS (SELECT doc_id, n_tokens, h,
                  CAST(sum(n_tokens) OVER (ORDER BY h, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
               FROM d)
         SELECT doc_id, n_tokens, h, cum_tokens,
                least((cum_tokens - n_tokens) // greatest((tot + 7) // 8, 1),
                      7) AS shard
         FROM c, t ORDER BY doc_id""",
    "text_pii_redaction" ->
      """WITH planted AS (
           SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 12-345-'
                       || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-9012' AS text
           FROM documents)
         SELECT doc_id,
                md5(regexp_replace(
                      regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                      '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5,
                CAST(len(regexp_extract_all(text, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
                CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INT) AS n_emails
         FROM planted ORDER BY doc_id""",
    "text_normalized" ->
      """SELECT doc_id,
                md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_md5,
                CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS INT) AS norm_len
         FROM documents ORDER BY doc_id""",
    "mm_dhash" ->
      """WITH b AS (SELECT doc_id, text,
                           greatest(octet_length(encode(text)) - 1, 0) AS sp
                    FROM documents),
              s AS (SELECT doc_id,
                           list_transform(range(0, 33),
                             i -> unicode(substr(text,
                                    CAST(floor(i * sp / 32.0) AS INT) + 1, 1))) AS sb
                    FROM b),
              f AS (SELECT doc_id,
                           CAST(list_aggregate(list_transform(range(0, 32),
                             i -> CASE WHEN sb[CAST(i AS INT) + 2] > sb[CAST(i AS INT) + 1]
                                       THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END),
                             'sum') AS BIGINT) AS dhash
                    FROM s)
         SELECT doc_id, dhash FROM f ORDER BY doc_id""",
    // exact replay of the integer-DCT pHash: same 64-byte sampling grid,
    // quantized basis (interpolated below from the one Scala definition),
    // same DC-dropped median threshold — all int64 arithmetic
    "mm_phash" ->
      s"""WITH bs AS (SELECT [${graft.pipeline.Multimodal.dctBasis.flatten.mkString(", ")}] AS f),
              b AS (SELECT doc_id, text,
                           greatest(octet_length(encode(text)) - 1, 0) AS sp
                    FROM documents),
              smp AS (SELECT doc_id,
                             list_transform(range(0, 64),
                               i -> CAST(unicode(substr(text,
                                      CAST(floor(i * sp / 63.0) AS INT) + 1, 1)) AS BIGINT)) AS sb
                      FROM b),
              k AS (SELECT doc_id,
                           list_transform(range(0, 64), j ->
                             list_aggregate(list_transform(range(0, 64), m ->
                               sb[CAST(m AS INT) + 1]
                                 * f[CAST(m // 8 * 8 + j // 8 AS INT) + 1]
                                 * f[CAST((m % 8) * 8 + (j % 8) AS INT) + 1]), 'sum')) AS kk
                    FROM smp, bs),
              t AS (SELECT doc_id, kk, list_sort(kk[2:64])[32] AS med FROM k),
              p AS (SELECT doc_id,
                           CAST(list_aggregate(list_transform(range(1, 64),
                             j -> CASE WHEN kk[CAST(j AS INT) + 1] > med
                                       THEN (CAST(1 AS BIGINT) << CAST(j - 1 AS INT))
                                       ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT) AS phash
                    FROM t)
         SELECT doc_id, phash FROM p ORDER BY doc_id""",
    "mm_dhash_neardups" ->
      """WITH b AS (SELECT doc_id, text,
                           greatest(octet_length(encode(text)) - 1, 0) AS sp
                    FROM documents),
              s AS (SELECT doc_id,
                           list_transform(range(0, 33),
                             i -> unicode(substr(text,
                                    CAST(floor(i * sp / 32.0) AS INT) + 1, 1))) AS sb
                    FROM b),
              f AS (SELECT doc_id,
                           CAST(list_aggregate(list_transform(range(0, 32),
                             i -> CASE WHEN sb[CAST(i AS INT) + 2] > sb[CAST(i AS INT) + 1]
                                       THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END),
                             'sum') AS BIGINT) AS dhash
                    FROM s)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
         FROM f a JOIN f b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.dhash, b.dhash)) <= 6
         ORDER BY id_a, id_b""",
    "mm_frame_sample" ->
      """WITH f AS (SELECT doc_id,
                           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                                ELSE 'video/mp4' END AS format,
                           length(text) AS n, text
                    FROM documents WHERE length(text) > 0),
              fr AS (SELECT doc_id, format,
                            CAST(unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS INT) AS frame_idx,
                            text
                     FROM f)
         SELECT doc_id, format, frame_idx,
                CAST(length(substr(text, frame_idx * 64 + 1, 64)) AS INT) AS frame_len,
                md5(substr(text, frame_idx * 64 + 1, 64)) AS frame_md5
         FROM fr WHERE frame_idx % 4 = 0
         ORDER BY doc_id, frame_idx""",
    "mm_resize" ->
      """WITH ch AS (SELECT doc_id,
                            CAST(unnest(range(1, length(text) + 1, 4)) AS INT) AS i, text
                     FROM documents),
              r AS (SELECT doc_id,
                           md5(string_agg(substr(text, i, 1), '' ORDER BY i)) AS resized_md5,
                           count(*) AS resized_bytes
                    FROM ch GROUP BY doc_id)
         SELECT d.doc_id,
                CASE WHEN d.doc_id % 3 = 0 THEN 'image/png'
                     WHEN d.doc_id % 3 = 1 THEN 'audio/wav'
                     ELSE 'video/mp4' END AS format,
                r.resized_bytes, r.resized_md5
         FROM documents d JOIN r ON d.doc_id = r.doc_id
         ORDER BY d.doc_id""",
    "dedup_exact_keepers" ->
      """SELECT doc_id, n_chars FROM (
           SELECT doc_id, n_chars,
                  row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
           FROM documents) t WHERE rn = 1 ORDER BY doc_id""",
    "dedup_exact_groups" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS copies
         FROM documents GROUP BY text ORDER BY fp""",
    // exact quadratic replay of the symmetric-deletion blocked join —
    // blocking is complete by theorem, so the sets must match exactly
    "text_inverted_index" ->
      """SELECT token, count(*) AS df,
                array_to_string(list_sort(list(doc_id)), ' ') AS postings
         FROM (SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
               FROM documents)
         WHERE length(token) > 0
         GROUP BY token ORDER BY token""",
    "text_index_serve" ->
      """SELECT doc_id FROM documents
         WHERE list_contains(string_split(lower(text), ' '), 'spark')
           AND list_contains(string_split(lower(text), ' '), 'vector')
           AND list_contains(string_split(lower(text), ' '), 'merge')
         ORDER BY doc_id""",
    // direct dense_rank over the 8-char prefixes == the engine's three
    // prefix-doubling rounds (Manber-Myers invariant)
    "dedup_suffix_ranks" ->
      """WITH p AS (SELECT doc_id,
                           CAST(unnest(range(1, length(text) + 1)) AS BIGINT) AS pos,
                           text
                    FROM documents WHERE doc_id < 100),
            s AS (SELECT doc_id, pos, substr(text, CAST(pos AS INT), 8) AS pre FROM p)
         SELECT doc_id, pos,
                CAST(dense_rank() OVER (ORDER BY pre) AS BIGINT) AS rank
         FROM s ORDER BY doc_id, pos""",
    // recursive-CTE closure over the exact levenshtein graph: min-id
    // component label == the engine's converged cluster label
    "dedup_entity_resolution" ->
      """WITH RECURSIVE ed AS MATERIALIZED (
              SELECT a.s_suppkey AS u, b.s_suppkey AS v
              FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
              WHERE levenshtein(a.s_name, b.s_name) <= 1),
            edges AS (SELECT u AS src, v AS dst FROM ed
                      UNION ALL SELECT v, u FROM ed),
            reach AS (SELECT s_suppkey AS id, s_suppkey AS r FROM supplier
                      UNION
                      SELECT e.src, reach.r FROM edges e
                      JOIN reach ON e.dst = reach.id),
            lab AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
         SELECT l.cluster, count(*) AS members, s.s_name AS canonical_name
         FROM lab l JOIN supplier s ON s.s_suppkey = l.cluster
         GROUP BY l.cluster, s.s_name ORDER BY l.cluster""",
    "dedup_fuzzy_join" ->
      """SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
                a.s_name AS s_a, b.s_name AS s_b,
                CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
         FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
         WHERE levenshtein(a.s_name, b.s_name) <= 1
         ORDER BY id_a, id_b""",
    "text_token_stats" ->
      s"""SELECT doc_id,
          CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
          round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                / len(string_split(text, ' ')), 4) AS avg_word_len,
          round(CAST(len(${stopSql()}) AS DOUBLE) / len(string_split(text, ' ')), 4) AS stop_ratio,
          round(CAST(length(regexp_replace(text, '[a-z ]', '', 'g')) AS DOUBLE)
                / length(text), 4) AS punct_ratio
          FROM documents ORDER BY doc_id""",
    "text_quality_source" ->
      s"""SELECT source, round(avg(q), 4) AS avg_quality, count(*) AS docs FROM (
            SELECT source, $qualitySql AS q
            FROM documents) t
          GROUP BY source ORDER BY source""",
    // replay of the streaming ingest loop: the admitted corpus is the
    // quality-gated distinct-text set, independent of arrival order
    "stream_ingest_replay" ->
      s"""SELECT DISTINCT text FROM (SELECT text, $qualitySql AS q FROM documents) t
          WHERE q >= 0.5 ORDER BY text""",
    "stream_ingest_socket" ->
      s"""SELECT DISTINCT text FROM (SELECT text, $qualitySql AS q FROM documents) t
          WHERE q >= 0.5 ORDER BY text""",
    "text_langid" ->
      s"""SELECT lang, $langCaseSql AS predicted, count(*) AS cnt
          FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",
    "text_fingerprints" ->
      """SELECT doc_id, md5(text) AS fp,
         md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp
         FROM documents ORDER BY doc_id""",
    "ann_topk" -> bruteTopKSql,
    "text_bpe_encode" -> {
      val chain = bpeMerges.foldLeft(
        """' ' || regexp_replace(word, '(.)', '\1 ', 'g')""") {
        case (acc, (a, b)) => s"replace($acc, ' $a $b ', ' $a$b ')"
      }
      s"""WITH w AS (SELECT word, count(*) AS n_occurrences FROM (
                       SELECT unnest(string_split(text, ' ')) AS word FROM documents)
                     WHERE length(word) > 0 GROUP BY word),
          m AS (SELECT word, n_occurrences, trim($chain) AS sym FROM w)
          SELECT word, n_occurrences, replace(sym, ' ', '|') AS encoded,
                 len(string_split(sym, ' ')) AS n_pieces
          FROM m ORDER BY word"""
    },
    "ann_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS ql
                     FROM embeddings WHERE vec_id < 5),
          scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id, $cosineSql AS score
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> q.query_id AND e.label <> q.ql),
          ranked AS (
            SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id) AS "rank"
            FROM scored)
          SELECT query_id, neighbor_id, score, "rank" FROM ranked
          WHERE "rank" <= 5 ORDER BY query_id, "rank"""",
    // full replay of BOTH matryoshka phases: 16-dim prefix cosine pool
    // cut (same rounding + id tie-break), then exact full-dim re-rank
    "ann_matryoshka" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
          pre AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round(list_aggregate(list_transform(
                       list_zip(e.embedding[1:16], q.qv[1:16]),
                       p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
                     / (sqrt(list_aggregate(list_transform(e.embedding[1:16],
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                      * sqrt(list_aggregate(list_transform(q.qv[1:16],
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))), 4)
                     AS pre_score
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
          pool AS (
            SELECT query_id, neighbor_id FROM (
              SELECT query_id, neighbor_id,
                     row_number() OVER (PARTITION BY query_id
                       ORDER BY pre_score DESC, neighbor_id) AS rn
              FROM pre) WHERE rn <= 50),
          scored AS (
            SELECT p.query_id, p.neighbor_id, $cosineSql AS score
            FROM pool p
            JOIN embeddings e ON e.vec_id = p.neighbor_id
            JOIN q ON q.query_id = p.query_id),
          ranked AS (
            SELECT query_id, neighbor_id, score,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY score DESC, neighbor_id) AS "rank"
            FROM scored)
          SELECT query_id, neighbor_id, score, "rank" FROM ranked
          WHERE "rank" <= 5 ORDER BY query_id, "rank"""",
    // nprobe = nlist probes every cell ⇒ provably brute force
    "ann_ivf_exact" -> bruteTopKSql,
    // ADC pool ⊇ true top-k on this corpus (spec-asserted) ⇒ exact re-rank
    "ann_pq_refined" -> bruteTopKSql,
    "ann_neardup_pairs" ->
      s"""WITH q AS (SELECT vec_id, embedding AS qv FROM embeddings)
          SELECT e.vec_id AS id_a, q.vec_id AS id_b, $cosineSql AS score
          FROM embeddings e JOIN q ON e.vec_id < q.vec_id
          WHERE $cosineSql >= 0.4
          ORDER BY id_a, id_b""",
    // semantic dedup = exact cosine edge set + transitive closure; the
    // Spark side's ball-cover pruning and pointer jumping are plan
    // optimizations with proofs of equality, so the naive replay here is
    // the same function
    "semdedup_keepers" ->
      s"""WITH RECURSIVE q AS (SELECT vec_id, embedding AS qv FROM embeddings),
          edges AS (
            SELECT e.vec_id AS src, q.vec_id AS dst
            FROM embeddings e JOIN q ON e.vec_id <> q.vec_id
            WHERE $cosineSql >= 0.4),
          reach AS (
            SELECT vec_id AS id, vec_id AS r FROM embeddings
            UNION
            SELECT e.src AS id, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
          SELECT id AS vec_id FROM (
            SELECT id, min(r) AS cluster FROM reach GROUP BY id) t
          WHERE id = cluster ORDER BY vec_id""",
    "sample_dsir" ->
      """WITH tt AS (SELECT substr(md5(tok), 1, 3) AS b
                     FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
                           FROM documents WHERE doc_id % 97 = 0)),
          ct AS (SELECT doc_id, substr(md5(tok), 1, 3) AS b
                 FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                       FROM documents WHERE doc_id % 97 <> 0)),
          tlm AS (SELECT b, count(*) AS cnt FROM tt GROUP BY b),
          clm AS (SELECT b, count(*) AS cnt FROM ct GROUP BY b),
          ttot AS (SELECT count(*)::DOUBLE AS t_total FROM tt),
          ctot AS (SELECT count(*)::DOUBLE AS c_total FROM ct),
          w AS (SELECT coalesce(tlm.b, clm.b) AS b,
                       ln((coalesce(tlm.cnt, 0) + 1) / (t_total + 4096)) -
                       ln((coalesce(clm.cnt, 0) + 1) / (c_total + 4096)) AS lw
                FROM tlm FULL JOIN clm ON tlm.b = clm.b
                CROSS JOIN ttot CROSS JOIN ctot)
         SELECT ct.doc_id, count(*) AS n_tokens, round(avg(lw), 4) AS dsir_weight
         FROM ct JOIN w USING (b) GROUP BY ct.doc_id ORDER BY ct.doc_id""",
    "mm_decode" ->
      """WITH spec AS (
           SELECT doc_id,
                  CAST(8 + doc_id % 16 AS INT) AS width,
                  CAST(8 + (doc_id * 7) % 16 AS INT) AS height,
                  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT) AS channels
           FROM documents)
         SELECT doc_id, width, height, channels,
                CAST(list_aggregate(list_transform(
                       range(0, width * height * channels),
                       i -> (doc_id * 31 + i) % 256), 'sum') AS BIGINT) AS px_sum
         FROM spec ORDER BY doc_id""",
    "mm_media_stats" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                     WHEN doc_id % 3 = 1 THEN 'audio/wav'
                     ELSE 'video/mp4' END AS format,
                count(*) AS cnt,
                CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
         FROM documents GROUP BY 1 ORDER BY 1""",
  )
}

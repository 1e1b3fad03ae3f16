package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.MinHashFunctions

/** Document deduplication for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design (100 TB corpus):
  *  - exact dedup is one hash-aggregate on a fingerprint (map-side combine
  *    shrinks the shuffle to one row per distinct document);
  *  - MinHash signatures are a narrow projection (one codegen'd kernel
  *    that hashes word shingles straight from the text's bytes, no UDF,
  *    no per-shingle string); LSH banding turns the quadratic
  *    pair search into an equi-join on (band, bandHash) — the only
  *    shuffle is on band keys, and skewed buckets (boilerplate docs) are
  *    handled by AQE skew-join splitting;
  *  - candidate pairs are then verified with Jaccard over the documents'
  *    distinct shingle sets (pre-hashed to sorted longs, merged with a
  *    primitive codegen'd loop), so LSH recall/precision is tunable
  *    without correctness risk;
  *  - SimHash packs a document into one 64-bit value; near-dup detection
  *    is a self-join on rotated prefixes or (here) a bounded
  *    hamming-distance filter via bit_count(xor).
  */
object Dedup {

  // ---------- exact ----------

  /** Keep the lowest-id row per distinct value of `byCol`. */
  def exactDedup(df: DataFrame, byCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col(byCol)).orderBy(col(idCol))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Duplicate-group report: fingerprint, representative id, copy count. */
  def exactGroups(df: DataFrame, byCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(byCol)).as("fp"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("copies"))

  // ---------- MinHash + LSH ----------
  //
  // Word k-shingles and their hashes come from the ShingleMinHash kernel,
  // whose scaladoc states the shingle rule; PipelineSpec pins it to the
  // composable string form (DedupReference, test scope).

  /** MinHash signatures as a table — ONE narrow projection per document
    * via the codegen'd ShingleMinHash kernel: no shingle strings, no
    * explode, no groupBy shuffle (the aggregate form shuffled one row per
    * (doc, shingle) only to min-reduce them back). Signatures are
    * bit-identical to min(xxhash64(lit(i), shingle)) per slot, so they
    * are independent of partitioning and cluster size.
    * Returns (idCol, sig: array<long>). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        numHashes: Int, shingleK: Int): DataFrame =
    docs.select(col(idCol), MinHashFunctions.shingleSignature(col(textCol), shingleK, numHashes).as("sig"))

  /** Explode a signature into LSH bands: (band_id, band_hash) rows.
    * bands × rowsPerBand must equal the signature length.
    *
    * The band array is expanded STATICALLY (one xxhash64 call per band
    * over its element_at slots) instead of a `transform` lambda over a
    * slice — the lambda form is interpreted per band per row, ~4× the
    * cost of this fully-codegen'd projection. Bit-identical: Spark's
    * xxhash64 folds an array child element-by-element exactly as it folds
    * an argument list, so xxhash64(b, slice(sig, i, r)) ==
    * xxhash64(b, sig[i], ..., sig[i+r-1]). */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int): DataFrame = {
    val bandHashes = array((0 until bands).map { b =>
      xxhash64(lit(b) +:
        (0 until rowsPerBand).map(i => element_at(col(sigCol), b * rowsPerBand + i + 1)): _*)
    }: _*)
    df.select(col(idCol), posexplode(bandHashes))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_hash")
  }

  /** Candidate pairs: documents sharing any (band_id, band_hash) bucket.
    * The equi-join is the scalable heart of LSH — no cross join ever. */
  def lshCandidatePairs(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id_a"))
    val b = bandsDf.select(col("band_id"), col("band_hash"), col(idCol).as("id_b"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Exact Jaccard over distinct shingle sets, used to verify LSH
    * candidates (and directly for n-gram similarity). Hot path: the fused
    * codegen'd expression counts both sets in one pass instead of
    * materializing intersect+union arrays per candidate pair (identical
    * semantics — see JaccardSimilarity; ExtensionsSpec cross-checks it
    * against the composable array_intersect/array_union form). */
  def jaccard(setA: Column, setB: Column): Column =
    round(graft.functions.VectorFunctions.jaccardSim(setA, setB), 4)

  /** Full MinHash-LSH near-dup pipeline: signature → bands → candidate
    * pairs → shingle-set Jaccard verification at `threshold` (sets
    * pre-hashed to sorted longs; see the in-body note). */
  def minhashNearDups(docs0: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 16, shingleK: Int = 3,
                      bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // spread the raw docs BEFORE the signature/shingle projections: the
    // single-split local corpus otherwise computes them in one task
    // (ScaleOut scaladoc)
    val docs = graft.operators.ScaleOut.forCompute(docs0, idCol)
    // ONE projection tokenizes each text once and emits both the
    // signature and the verify set, and ONE localCheckpoint materializes
    // them: the band table and the set legs of the self-joins all read
    // it, so neither the spread shuffle nor the text scan runs twice (the
    // references do not collapse on their own — the heavy projection sits
    // above any reusable exchange). localCheckpoint stores plain
    // serialized rows, no columnar encode. At warehouse scale these are
    // persisted Parquet tables (buildLshIndexTables).
    // The verify sets are sorted distinct shingle hashes: the per-pair
    // check is a primitive merge (SortedLongJaccard, ~200ns) instead of
    // two UTF8String hash sets (~15µs). Distinct counts over 64-bit
    // shingle hashes equal the string counts unless two distinct
    // shingles of one pair collide (~3e-16/pair); the DuckDB oracle
    // computes the string form and hash-matches.
    val hashed = docs
      .select(col(idCol),
        MinHashFunctions.shingleSignatureAndSet(col(textCol), shingleK, numHashes).as("mh"))
      .select(col(idCol), col("mh.sig").as("sig"), col("mh.shingle_set").as("shingle_set"))
      .localCheckpoint()
    val pairs = lshCandidatePairs(lshBands(hashed, idCol, "sig", bands, numHashes / bands), idCol)
    pairs
      .join(hashed.select(col(idCol).as("id_a"), col("shingle_set").as("set_a")), "id_a")
      .join(hashed.select(col(idCol).as("id_b"), col("shingle_set").as("set_b")), "id_b")
      .withColumn("jaccard",
        round(graft.functions.VectorFunctions.sortedLongJaccard(col("set_a"), col("set_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental near-dup detection: INCOMING documents checked against
    * an EXISTING corpus (continual ingestion — every batch dedups against
    * everything already admitted). Asymmetric form of [[minhashNearDups]]:
    * band tables computed per side, candidates from the cross-side
    * equi-join on (band, band_hash), verified the same way. At warehouse
    * scale the existing side's signatures/bands are a PERSISTED table
    * maintained at admit time, so each batch pays O(batch) signature work
    * plus one equi-join against the band index — never a rescan of the
    * admitted corpus. Output: (incoming_id, existing_id, jaccard). */
  def minhashNearDupsAgainst(existing0: DataFrame, incoming0: DataFrame,
                             idCol: String, textCol: String,
                             numHashes: Int = 16, shingleK: Int = 3,
                             bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // same single-split guard as minhashNearDups, per side
    val existing = graft.operators.ScaleOut.forCompute(existing0, idCol)
    val incoming = graft.operators.ScaleOut.forCompute(incoming0, idCol)
    val r = numHashes / bands
    def bandSide(df: DataFrame, as: String) =
      lshBands(minhashSignatures(df, idCol, textCol, numHashes, shingleK), idCol, "sig", bands, r)
        .withColumnRenamed(idCol, as)
    val cands = bandSide(incoming, "incoming_id")
      .join(bandSide(existing, "existing_id"), Seq("band_id", "band_hash"))
      .select(col("incoming_id"), col("existing_id")).distinct()
    def setSide(df: DataFrame, as: String, setAs: String) =
      df.select(col(idCol).as(as), shingleSet(textCol, shingleK).as(setAs))
    cands
      .join(setSide(incoming, "incoming_id", "set_i"), "incoming_id")
      .join(setSide(existing, "existing_id", "set_e"), "existing_id")
      .withColumn("jaccard",
        round(graft.functions.VectorFunctions.sortedLongJaccard(col("set_i"), col("set_e")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("incoming_id"), col("existing_id"), col("jaccard"))
  }

  // ---------- persisted LSH dedup index ----------

  /** Sorted distinct shingle-hash set per doc (xxhash64 of each word
    * k-shingle, via the ShingleMinHash kernel) — the exact-verify payload
    * stored beside the band index (and the projection every serve-side
    * verification uses). */
  private def shingleSet(textCol: String, shingleK: Int) =
    MinHashFunctions.shingleSet(col(textCol), shingleK)

  /** Build (replace) the PERSISTED MinHash-LSH dedup index of the
    * admitted corpus — the production shape minhashNearDupsAgainst's
    * docstring promises: `{prefix}_bands` (band_id, band_hash, id) is
    * the equi-join index, `{prefix}_sets` (id, set) carries the sorted
    * shingle hashes for exact Jaccard verification. Each ingest batch
    * then pays O(batch) signature work + one join against these tables
    * (dedupAgainstLshIndex) — the admitted corpus is NEVER re-scanned,
    * re-shingled, or re-hashed. Bands commit clustered by band_hash so
    * per-bucket file pruning holds as the index grows. */
  def buildLshIndexTables(cat: graft.catalog.GraftCatalog, ns: String, prefix: String,
                          docs0: DataFrame, idCol: String, textCol: String,
                          numHashes: Int = 16, shingleK: Int = 3,
                          bands: Int = 4): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the build's signature/shingle projections feed the two table
    // writes map-side — spread a single-split corpus (ScaleOut scaladoc)
    val docs = graft.operators.ScaleOut.forCompute(docs0, idCol)
    val r = numHashes / bands
    Seq(s"${prefix}_bands", s"${prefix}_sets").foreach { t =>
      if (!cat.tableExists(ns, t)) cat.createTable(ns, t)
    }
    // sets commit FIRST (same ordering argument as appendToLshIndex): a
    // crash between the two commits must only cost candidate recall,
    // never let fresh band candidates verify against stale sets
    cat.commitReplace(ns, s"${prefix}_sets",
      docs.select(col(idCol).as("id"), shingleSet(textCol, shingleK).as("set")))
    val bandRows =
      lshBands(minhashSignatures(docs, idCol, textCol, numHashes, shingleK),
        idCol, "sig", bands, r)
        .select(col("band_id"), col("band_hash"), col(idCol).as("id"))
    cat.commitReplace(ns, s"${prefix}_bands",
      bandRows.repartitionByRange(8, col("band_hash")))
  }

  /** Admit a batch into the persisted index: append its band rows and
    * shingle sets. Idempotent under retries via `commitId` — each
    * table-level append that already committed this id is skipped, so a
    * crash between the two appends heals on replay instead of
    * double-inserting or wedging. Sets append FIRST: a candidate row
    * whose verify-set is missing would silently drop a true pair, while
    * the reverse order merely delays new candidates to the next commit. */
  def appendToLshIndex(cat: graft.catalog.GraftCatalog, ns: String, prefix: String,
                       batch: DataFrame, idCol: String, textCol: String,
                       numHashes: Int = 16, shingleK: Int = 3, bands: Int = 4,
                       commitId: Option[String] = None): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    def idempotent(commit: => Unit): Unit =
      try commit catch { case _: graft.catalog.GraftCatalog.DuplicateCommitException => () }
    idempotent(cat.commitAppend(ns, s"${prefix}_sets",
      batch.select(col(idCol).as("id"), shingleSet(textCol, shingleK).as("set")),
      commitId = commitId))
    idempotent(cat.commitAppend(ns, s"${prefix}_bands",
      lshBands(minhashSignatures(batch, idCol, textCol, numHashes, shingleK),
        idCol, "sig", bands, r)
        .select(col("band_id"), col("band_hash"), col(idCol).as("id")),
      commitId = commitId))
  }

  /** Near-dups of `batch` against the PERSISTED index: candidates from
    * the batch-bands ⋈ index-bands equi-join, verified exactly against
    * the stored shingle sets. Read-only — pair admission decisions and
    * appendToLshIndex are the caller's policy. Output:
    * (incoming_id, existing_id, jaccard), same contract as
    * minhashNearDupsAgainst (PipelineSpec pins equality). */
  def dedupAgainstLshIndex(cat: graft.catalog.GraftCatalog, ns: String, prefix: String,
                           batch0: DataFrame, idCol: String, textCol: String,
                           numHashes: Int = 16, shingleK: Int = 3, bands: Int = 4,
                           threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // the batch's signature + shingle-set projections are the serve
    // path's only per-row heavy compute — spread a single-split batch
    val batch = graft.operators.ScaleOut.forCompute(batch0, idCol)
    val r = numHashes / bands
    val batchBands =
      lshBands(minhashSignatures(batch, idCol, textCol, numHashes, shingleK),
        idCol, "sig", bands, r)
        .withColumnRenamed(idCol, "incoming_id")
    val cands = batchBands
      .join(cat.read(ns, s"${prefix}_bands")
        .select(col("band_id"), col("band_hash"), col("id").as("existing_id")),
        Seq("band_id", "band_hash"))
      .select(col("incoming_id"), col("existing_id")).distinct()
    cands
      .join(batch.select(col(idCol).as("incoming_id"),
        shingleSet(textCol, shingleK).as("set_i")), "incoming_id")
      .join(cat.read(ns, s"${prefix}_sets")
        .select(col("id").as("existing_id"), col("set").as("set_e")), "existing_id")
      .withColumn("jaccard",
        round(graft.functions.VectorFunctions.sortedLongJaccard(col("set_i"), col("set_e")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("incoming_id"), col("existing_id"), col("jaccard"))
  }

  // ---------- SimHash ----------

  /** 64-bit SimHash as a table: explode tokens, hash each ONCE, then one
    * hash aggregate with 64 conditional sums (per-bit +1/−1 votes) and a
    * final constant-shift packing projection. Cost is O(tokens) hashes
    * per document with map-side partial aggregation — the naive
    * per-bit-rehash form is O(64×tokens) and breaks codegen.
    * Returns (idCol, sh: long). */
  def simhashTable(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    // the token explode + 64-vote partial aggregation run map-side —
    // spread a single-split corpus before them (ScaleOut scaladoc)
    val docs = graft.operators.ScaleOut.forCompute(docs0, idCol)
    val hashed = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .withColumn("h", xxhash64(col("t")))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$i"))
    val packed = (0 until 64)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    hashed.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), packed.as("sh"))
  }

  /** Near-dup pairs by SimHash hamming distance <= maxDistance.
    * NOTE: the pair join here is banded by the high 16 bits to avoid a
    * full cross join (near-dups almost always share the high band; for
    * exhaustive recall run the 4-rotation variant). */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
                      maxDistance: Int = 10): DataFrame =
    simhashNearDupsOnTable(simhashTable(docs, idCol, textCol), idCol,
      maxDistance)

  /** [[simhashNearDups]] over a PRECOMPUTED (id, sh) signature table —
    * lets a declared query export the signatures (the engine-defined
    * DECISIONS) as an oracle fixture while sharing one computation. */
  def simhashNearDupsOnTable(sh0: DataFrame, idCol: String,
                             maxDistance: Int = 10): DataFrame = {
    val sh = sh0.withColumn("band", shiftright(col("sh"), 48))
    val a = sh.select(col("band"), col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("band"), col(idCol).as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** SimHash near-dups with GUARANTEED recall for maxDistance < bands:
    * the 64-bit simhash splits into `bands` equal bit-bands; by
    * pigeonhole, a pair within hamming distance d < bands differs in at
    * most d bands and therefore matches EXACTLY in at least one — the
    * banded equi-join provably loses no qualifying pair (test-asserted
    * equal to the all-pairs search). [[simhashNearDups]]'s high-16
    * banding is the cheaper, recall-lossy variant for larger d. */
  def simhashNearDupsExact(docs: DataFrame, idCol: String, textCol: String,
                           maxDistance: Int = 7, bands: Int = 8): DataFrame =
    simhashNearDupsExactOnTable(simhashTable(docs, idCol, textCol), idCol,
      maxDistance, bands)

  /** [[simhashNearDupsExact]] over a PRECOMPUTED (id, sh) signature
    * table — callers that also need the signatures elsewhere (e.g. the
    * banding-vs-brute verifier) compute them once and share. */
  def simhashNearDupsExactOnTable(sh: DataFrame, idCol: String,
                                  maxDistance: Int = 7, bands: Int = 8): DataFrame = {
    require(maxDistance < bands, "pigeonhole guarantee needs maxDistance < bands")
    require(64 % bands == 0, "bands must divide 64")
    val width = 64 / bands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val banded = sh.select(col(idCol), col("sh"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => call_function("shiftright", col("sh"), b * width).bitwiseAND(lit(mask)))))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_val")
    val a = banded.select(col("band_id"), col("band_val"),
      col(idCol).as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band_id"), col("band_val"),
      col(idCol).as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b").distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ---------- near-dup clustering ----------

  /** Collapse a near-duplicate pair graph into clusters: every doc gets
    * the minimum doc-id reachable through pair edges (connected
    * components by iterative min-label propagation — converges in
    * O(log(diameter)) joins; dup clusters are tiny in practice so this
    * terminates in a few rounds even at corpus scale).
    * Input: pairs (id_a, id_b); ids: all doc ids (singletons keep
    * themselves). Output: (id, cluster) where cluster = min id of the
    * component — "keep one per cluster" dedup follows as
    * filter(id === cluster).
    *
    * The iteration runs over the PAIR-TOUCHED node set only: a node with
    * no edge can never change its label, so carrying it through every
    * round would multiply each join by |corpus|/|dup graph| for no
    * effect — at training-corpus scale singletons are the overwhelming
    * majority. They rejoin as (id, id) at the end via one anti-join. */
  def clusterNearDups(pairs: DataFrame, ids: DataFrame,
                      idCol: String = "doc_id", maxIterations: Int = 10): DataFrame = {
    // checkpoint the pair list FIRST: everything below references it 2-4
    // times, and the upstream pair pipeline (LSH verify, ball-cover) is
    // the expensive part — one materialization, not one per reference.
    // localCheckpoint throughout: iterative joins otherwise double the
    // lineage every round, re-executing upstream exponentially.
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    // semi-join against ids: an edge endpoint outside the id set never
    // labeled, bridged, or emitted before this optimization — keep that.
    // NOT separately checkpointed (round-16): it materializes exactly
    // once INSIDE the edges checkpoint below, and the initial labels are
    // recovered from the self-loop rows — one eager job less per query.
    val touched = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
      .join(ids.select(col(idCol).as("id")), Seq("id"), "left_semi")
    // undirected edge list incl. self-loops so single-edge endpoints keep
    // their own candidacy in the min. Repartitioned by the join key
    // BEFORE the checkpoint (r15): the 3-way union otherwise checkpoints
    // with the summed partition count of its legs (~3× the session
    // parallelism of near-empty partitions), and since localCheckpoint
    // pins physical partitioning, EVERY round's probe stage then runs
    // that many do-nothing tasks. A keyless-N-free repartition is
    // AQE-coalescible, so the checkpoint lands data-sized (one
    // partition here, many at a 100 TB dup graph), and hash(dst)
    // partitioning is exactly what the per-round join wants.
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .union(touched.select(col("id").as("src"), col("id").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    // initial labels = the self-loop rows of the edges checkpoint (the
    // touched set by construction) — a narrow filter, no extra job
    var labels = edges.filter(col("src") === col("dst"))
      .select(col("src").as("id"), col("src").as("cluster"))
    var changed = true
    var iter = 0
    while (changed && iter < maxIterations) {
      // each node adopts the min cluster label among itself and
      // neighbors — the self-loop rows injected above guarantee every
      // touched node's OWN label is in the min, so no separate
      // least(own, neighbors) join is needed; the same self-loop row
      // (dst == src) also carries the node's previous label out of the
      // aggregate, so convergence detection rides the SAME action that
      // materializes the round (an `observe` metric on the checkpoint —
      // round-16; the round-15 isEmpty probe was a second job per round,
      // and these rounds are tiny-data, so per-round job count IS the
      // cost)
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("cluster")).as("cluster"),
          max(when(col("dst") === col("src"), col("cluster"))).as("old"))
      // pointer jumping: follow each label to ITS label (cluster :=
      // label(cluster)), squaring the propagation distance per round —
      // O(log diameter) convergence, so a chain-shaped component longer
      // than maxIterations hops cannot silently split (one-hop-only
      // propagation needs O(diameter) rounds).
      val obs = org.apache.spark.sql.Observation()
      val next = viaNeighbors.as("a")
        .join(viaNeighbors.select(col("id").as("cid"), col("cluster").as("ccluster")).as("b"),
              col("a.cluster") === col("b.cid"))
        .select(col("a.id").as("id"),
          least(col("a.cluster"), col("ccluster")).as("cluster"), col("a.old").as("old"))
        .observe(obs,
          coalesce(max(when(col("cluster") =!= col("old"), 1L).otherwise(0L)),
            lit(0L)).as("moved"))
        .localCheckpoint()
      changed = obs.get("moved").asInstanceOf[Long] == 1L
      labels = next.select(col("id"), col("cluster"))
      iter += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"clusterNearDups did not converge in $maxIterations rounds; raise maxIterations")
    // singletons (no edge → label can never move) rejoin as their own
    // cluster; left_anti keeps this one pass over the full id set
    labels.union(
      ids.select(col(idCol).as("id"))
        .join(labels.select(col("id")), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("cluster")))
  }

  /** Quality-aware keeper election: near-dup components via
    * [[clusterNearDups]], then each cluster keeps its HIGHEST-quality
    * member (ties to the lower id) instead of the min-id one — the
    * curation-grade dedup policy: when five near-copies of a page
    * exist, keep the cleanest extraction, not an arbitrary
    * representative. `docs` must carry (idCol, qualityCol).
    *
    * Cost over min-id keepers: one extra broadcast-scale join of labels
    * to quality plus one per-cluster window (bounded groups — cluster
    * sizes are dup-group sizes). Output: (idCol, cluster, qualityCol). */
  def bestQualityKeepers(pairs: DataFrame, docs: DataFrame,
                         idCol: String = "doc_id",
                         qualityCol: String = "quality",
                         maxIterations: Int = 10): DataFrame =
    topKQualityKeepers(pairs, docs, idCol, qualityCol, k = 1,
        maxIterations = maxIterations)
      .drop("rank")

  /** Keep the `k` highest-quality members of each near-dup cluster
    * (ties to the lower id) — the diversity-preserving dedup knob: for
    * template families one representative loses legitimate variation,
    * so curation pipelines often keep 2-3 per cluster. k=1 is
    * bestQualityKeepers. Output adds `rank` (1..k within cluster). */
  def topKQualityKeepers(pairs: DataFrame, docs: DataFrame,
                         idCol: String = "doc_id",
                         qualityCol: String = "quality",
                         k: Int = 1,
                         maxIterations: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // computing CONSTRAINTS over the component iteration's final
    // union throws in Spark's Union.rewriteConstraints for this plan
    // shape (child constraints reference attributes outside the
    // rewrite map) — localCheckpoint triggers exactly that while
    // building its LogicalRDD. Cross the RDD boundary instead: the
    // narrow (id, cluster) rows re-enter as a constraint-free scan,
    // and the iteration's own localCheckpoints bound recompute cost.
    val lab = clusterNearDups(pairs, docs.select(col(idCol)), idCol, maxIterations)
    val labels = lab.sparkSession.createDataFrame(lab.rdd, lab.schema)
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(qualityCol).desc, col("id"))
    labels.join(docs.select(col(idCol).as("id"), col(qualityCol)), Seq("id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id").as(idCol), col("cluster"), col(qualityCol), col("rank"))
  }

  // ---------- character n-gram Jaccard ----------

  /** Distinct character n-grams of the text. */
  def charNgrams(text: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
      i => text.substr(i, lit(n))))

  /** n-gram Jaccard similarity between two text columns. */
  def ngramJaccard(textA: Column, textB: Column, n: Int): Column =
    jaccard(charNgrams(textA, n), charNgrams(textB, n))

  // ---------- exact-substring duplicate pairs ----------

  /** Document pairs sharing at least `minShared` distinct exact
    * `n`-token substrings — the anchor-n-gram form of exact-substring
    * dedup (the EXACTSUBSTR signal of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499,
    * public paper: any shared substring of >= n tokens necessarily
    * shares one of these n-gram anchors, so the candidate set is
    * COMPLETE for n-token-or-longer overlaps; MinHash, by contrast, can
    * miss a long verbatim quote inside two otherwise-different
    * documents). Output: (id_a, id_b, shared) with id_a < id_b.
    *
    * `maxDf` drops anchor grams appearing in more than that many
    * documents before the pair fan-out: a boilerplate gram in d
    * documents alone fans into d·(d−1)/2 pairs — the classic quadratic
    * hot key — and a phrase that common is boilerplate, not plagiarism
    * evidence. The cut is part of the operator's declared semantics
    * (pairs whose every shared gram is corpus-rare are unaffected), and
    * with it the pair stage is an equi-join on the gram key whose
    * per-key fan-out is bounded by maxDf² — shuffle-partitioned,
    * AQE-splittable, no driver state. */
  def exactSubstringPairs(docs0: DataFrame, idCol: String, textCol: String,
                          n: Int = 8, minShared: Long = 1,
                          maxDf: Int = 1000): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    require(maxDf >= 2, s"maxDf must be >= 2 to ever emit a pair: $maxDf")
    // gram extraction (explode + per-doc window + distinct) is the
    // expensive stage and the plan references it from SIX places (df
    // counts, both pair sides, sizes) — without materialization Spark
    // re-derives it per reference (16 scans in the r14 plan). One
    // localCheckpoint computes it once, at session parallelism (the
    // ScaleOut guard spreads the single-split local corpus first).
    val docs = graft.operators.ScaleOut.forCompute(docs0, idCol)
    val grams = graft.pipeline.Curation
      .wordNgramSets(docs, idCol, textCol, n, lowercase = true)
      .localCheckpoint()
    val rare = grams.groupBy(col("gram")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select(col("gram"))
    val g = grams.join(rare, "gram")
    g.select(col("gram"), col(idCol).as("id_a"))
      .join(g.select(col("gram"), col(idCol).as("id_b")), "gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Asymmetric near-dup pairs by the OVERLAP COEFFICIENT over distinct
    * word n-grams: overlap(A,B) = |A∩B| / min(|A|,|B|) — high when the
    * smaller document is (nearly) contained in the larger one, even when
    * symmetric Jaccard is far below any dedup threshold (a short doc
    * quoted whole inside a long one: Jaccard |A|/|B| → 0, overlap → 1).
    * The containment-dup detector that whole-document Jaccard dedup
    * structurally misses.
    *
    * Grams above `maxDf` documents are cut BEFORE the pair fan-out AND
    * excluded from the measure (declared semantics, as in
    * [[exactSubstringPairs]]): ubiquitous grams carry no containment
    * signal and are exactly the quadratic hot keys. Docs left with no
    * gram after the cut (or shorter than n tokens) emit no pairs.
    *
    * Scale shape: candidates come from the gram equi-join (per-key
    * fan-out bounded by maxDf²); sizes are one aggregate joined back;
    * the intersection count IS the pair aggregate — no per-pair set
    * materialization, no cartesian. Choose `n` so typical gram df stays
    * small (the candidate stage is Σ df² over grams): on a
    * narrow-vocabulary corpus bigrams can carry df in the hundreds and
    * the join fans out quadratically, while trigrams keep df near 1 —
    * same reason exactSubstringPairs anchors on LONG grams. Output:
    * (id_a, id_b, inter, size_a, size_b, overlap) with id_a < id_b,
    * overlap rounded to 4. */
  def containmentPairs(docs0: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.6,
                       maxDf: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1]: $threshold")
    require(maxDf >= 2, s"maxDf must be >= 2 to ever emit a pair: $maxDf")
    // same one-materialization + spread discipline as
    // exactSubstringPairs (this plan references the gram table from
    // five places; see the note there)
    val docs = graft.operators.ScaleOut.forCompute(docs0, idCol)
    val grams = graft.pipeline.Curation
      .wordNgramSets(docs, idCol, textCol, n, lowercase = true)
      .localCheckpoint()
    val rare = grams.groupBy(col("gram")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select(col("gram"))
    val g = grams.join(rare, "gram")
    val sizes = g.groupBy(col(idCol)).agg(count(lit(1)).as("__sz"))
    val inter = g.select(col("gram"), col(idCol).as("id_a"))
      .join(g.select(col("gram"), col(idCol).as("id_b")), "gram")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("__sz").as("size_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("__sz").as("size_b")), "id_b")
      .withColumn("overlap", round(
        col("inter").cast("double") / least(col("size_a"), col("size_b")), 4))
      .filter(col("overlap") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"),
        col("size_a"), col("size_b"), col("overlap"))
  }

  // ---------- exact-span removal (dedup that rewrites the text) ----------

  /** Corpus-wide exact-span dedup with text reconstruction: tokenize,
    * chunk into non-overlapping `window`-token spans, keep only the
    * FIRST occurrence of each distinct span across the whole corpus
    * (first = smallest (id, span_idx)), and reassemble each document
    * from its surviving spans. This is the removal counterpart of
    * exactSubstringPairs — the ExactSubstr rewrite of Lee et al. 2022
    * (arXiv:2107.06499), where duplicated passages are cut out of later
    * documents rather than whole documents dropped.
    *
    * Output: (id, clean_text, n_spans, n_kept); a document whose every
    * span already appeared earlier comes back with clean_text = "".
    *
    * Scale shape: span extraction is a per-row projection (posexplode of
    * a higher-order transform — no join); first-occurrence election is
    * ONE shuffle on the span value (groups are duplicate sets, tiny and
    * AQE-splittable if a boilerplate span explodes); reassembly is one
    * shuffle back on the document id. No driver state, no windows over
    * the whole corpus — both windows partition by keys whose groups are
    * bounded (a span's copies; a doc's spans). */
  def spanDedupRewrite(docs: DataFrame, idCol: String, textCol: String,
                       window: Int = 3): DataFrame = {
    require(window >= 1, s"window must be >= 1: $window")
    val w = window
    val toks = split(col(textCol), " ")
    val spans = docs.select(
        col(idCol),
        posexplode(transform(
          sequence(lit(0), ((size(toks) + (w - 1)) / w).cast("int") - 1),
          i => array_join(slice(toks, i * w + 1, lit(w)), " "))))
      .withColumnRenamed("pos", "span_idx")
      .withColumnRenamed("col", "span")
    val first = Window.partitionBy(col("span"))
      .orderBy(col(idCol), col("span_idx"))
    val kept = spans
      .withColumn("rn", row_number().over(first))
      .filter(col("rn") === 1)
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("span_idx"), col("span")))),
        s => s.getField("span")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    docs.select(col(idCol),
        (((size(toks) + (w - 1)) / w).cast("int")).as("n_spans"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_spans"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  // ---------- fuzzy record linkage (bounded edit distance) ----------

  /** All 1-deletion variants of `s`, PLUS `s` itself (SymSpell-style
    * deletion neighborhood). A codegen'd higher-order transform — one
    * narrow projection, length+1 variants per string. */
  def deletionNeighborhood(s: Column): Column =
    array_union(
      array(s),
      transform(sequence(lit(1), greatest(length(s), lit(1))),
        i => concat(substring(s, lit(1), i - 1), substring(s, i + 1, length(s)))))

  /** Suffix ranks by prefix doubling (Manber–Myers, public algorithm —
    * the core of suffix-array text dedup à la "Deduplicating Training
    * Data Makes Language Models Better", Lee et al. 2022): rank every
    * suffix (doc, pos) of the corpus by its first `k` characters using
    * ceil(log2 k) rounds, each round doubling the compared prefix:
    * rank_{2h}(p) = dense_rank of (rank_h(p), rank_h(p+h)), with -1 for
    * suffixes shorter than h+1 (so "shorter sorts first", matching
    * plain lexicographic comparison of the truncated prefixes).
    *
    * Scale shape — the reason this is THE corpus-scale design:
    *  - per round: ONE self-equi-join on (doc, pos+h) to fetch the
    *    partner rank and ONE distributed dense-rank
    *    (DistributedRank.denseRankBy: range shuffle + per-partition
    *    window + P-row offset prefix sum — never a single global
    *    window);
    *  - rounds are log2(k), not data-dependent; each round's output is
    *    localCheckpoint'ed (the clusterNearDups lineage discipline);
    *  - total work O(n log k) rows shuffled, the textbook bound.
    *
    * Output: (doc_id, pos, rank) — rank is the 1-based dense rank of
    * the suffix's k-char prefix over the whole corpus; positions are
    * 1-based. Suffix classes (equal ranks) with members in >1 document
    * are exactly the cross-document duplicated k-grams, feeding the
    * same span-election rewrite as exactSubstringPairs. */
  def suffixRanks(docs0: DataFrame, idCol: String, textCol: String,
                  k: Int): DataFrame = {
    require(k >= 1 && (k & (k - 1)) == 0, s"k must be a power of two: $k")
    // the character posexplode multiplies rows by text length before
    // the first rank's range shuffle — spread a single-split corpus
    // so that map stage isn't one task (ScaleOut scaladoc)
    val docs = graft.operators.ScaleOut.forCompute(docs0, idCol)
    val chars = docs.select(col(idCol).as("doc"),
        posexplode(split(col(textCol), "")))
      .select(col("doc"), (col("pos") + 1).as("pos"), col("col").as("ch"))
      .filter(length(col("ch")) > 0)
    var ranked = graft.operators.DistributedRank
      .denseRankBy(chars, Seq(col("ch")), "rank")
      .select(col("doc"), col("pos"), col("rank"))
      .localCheckpoint()
    var h = 1
    while (h < k) {
      val partner = ranked.select(col("doc"),
        (col("pos") - h).as("pos"), col("rank").as("__prank"))
      val keyed = ranked.join(partner, Seq("doc", "pos"), "left")
        .withColumn("__prank", coalesce(col("__prank"), lit(-1L)))
      ranked = graft.operators.DistributedRank
        .denseRankBy(keyed, Seq(col("rank"), col("__prank")), "__nrank")
        .select(col("doc"), col("pos"), col("__nrank").as("rank"))
        .localCheckpoint()
      h *= 2
    }
    ranked.select(col("doc").as(idCol), col("pos"), col("rank"))
  }

  /** Record-linkage pairs at Levenshtein distance <= 1 via symmetric-
    * deletion blocking (the SymSpell scheme): two strings within edit
    * distance 1 ALWAYS share a member of each other's 1-deletion
    * neighborhood — equal strings share the string itself; a
    * substitution at position i shares the delete-at-i variant; an
    * insert/delete pair shares the shorter string. So the equi-join on
    * neighborhood members is a COMPLETE candidate generator by theorem
    * (no probabilistic recall argument), and the exact `levenshtein`
    * verify only ever discards false positives.
    *
    * Scale shape (the reason this beats a similarity cross join at
    * 100 TB): the only shuffle is an equi-join on variant strings —
    * candidates concentrate per-variant, so a hot variant (shared
    * prefix boilerplate) is an AQE-splittable skew key, never a
    * cartesian. Variant generation is a narrow codegen'd projection of
    * length+1 rows per record. For edit distance d, delete-d
    * neighborhoods generalize (variant count ~ len^d — practical for
    * d <= 2 on short keys; beyond that, block on length bands + LSH).
    *
    * Output: (id_a, id_b, s_a, s_b, dist), id_a < id_b, dist <= 1. */
  def editDistance1Pairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val variants = df.select(
        col(idCol).as("vid"), col(strCol).as("vs"),
        explode(deletionNeighborhood(col(strCol))).as("variant"))
    val cand = variants.select(col("vid").as("id_a"), col("vs").as("s_a"), col("variant"))
      .join(variants.select(col("vid").as("id_b"), col("vs").as("s_b"), col("variant")),
            Seq("variant"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "s_a", "s_b")
      .distinct()
    cand.withColumn("dist", levenshtein(col("s_a"), col("s_b")))
      .filter(col("dist") <= 1)
  }
}

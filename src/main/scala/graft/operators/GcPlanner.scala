package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** GC candidate generation, orphan sweep and the delete guard chain
  * (SURVEY G2/G3/G4/G6).
  *
  * Reference semantics:
  *  - produce_gc_candidates (iceberg-arch-geo-distributed-ha.md:778-796):
  *    `unreachable = all_files − reachable`, each candidate stamped with
  *    `delete_after = produced_at + grace`.
  *  - detect_orphans (:841-900): `orphan ≈ inventory − reachable`, with
  *    path heuristics (`_tmp/`, `_staging/` get a short grace).
  *  - applyDeletePlan guard chain (legacy GCCoordinator.java:81-106):
  *    plan validity window → per-file safety window → consistency
  *    waterline → delete.
  *
  * Spark-first: reachability difference is a left-anti join over file
  * listings; the guard chain is a pure filter conjunction that stays in
  * whole-stage codegen; the only non-declarative step (the physical
  * delete) happens in `foreachPartition` downstream and is deliberately
  * not part of planning. Which side runs the join is the inputs' size,
  * not a fork here: over driver-local inputs (a
  * [[graft.sources.StorageOps.listing]] of a tree narrow at every level, a
  * [[graft.catalog.GraftCatalog.filesTable]] of manifests under Spark's
  * recommended task size) the anti-join and its
  * count fold on the driver ([[graft.plans.FoldLocalRelations]]) with no
  * job; over distributed inputs (millions of rows per PB) it is one
  * shuffle.
  */
object GcPlanner {

  /** G2: unreachable files = allFiles ∖ reachable, stamped with a grace
    * deadline computed from `producedAtCol`. */
  def candidates(allFiles: DataFrame, reachable: DataFrame, keyCols: Seq[String],
                 producedAtCol: String, graceDays: Int): DataFrame =
    allFiles.join(reachable.select(keyCols.map(col): _*), keyCols, "left_anti")
      .withColumn("delete_after",
        col(producedAtCol) + expr(s"INTERVAL $graceDays DAYS"))

  /** G6: orphans = inventory ∖ reachable with tmp-path heuristics:
    * paths under temp/staging prefixes get `tmpGraceDays`, everything else
    * `graceDays` (doc defaults: P3D vs P14D). */
  def orphans(inventory: DataFrame, reachable: DataFrame, keyCols: Seq[String],
              seenAtCol: String, graceDays: Int = 14, tmpGraceDays: Int = 3,
              tmpPrefixes: Seq[String] = Seq("_tmp/", "_staging/", "._tmp_")): DataFrame = {
    // match each tmp marker as a PATH SEGMENT, not only at position 0:
    // real inventory paths are absolute/URI ("s3a://b/tbl/_tmp/f"), so a
    // root-anchored startsWith never fired on them and abandoned temp
    // files silently got the long grace ("._tmp_" is the basename prefix
    // distributedCopy's temp siblings use)
    val isTmp = tmpPrefixes
      .map(p => col(keyCols.head).startsWith(p) || col(keyCols.head).contains("/" + p))
      .reduce(_ || _)
    inventory.join(reachable.select(keyCols.map(col): _*), keyCols, "left_anti")
      .withColumn("grace_days", when(isTmp, tmpGraceDays).otherwise(graceDays))
      .withColumn("delete_after",
        col(seenAtCol) + col("grace_days") * expr("INTERVAL 1 DAY"))
  }

  /** G4 guard chain as a filter: keep only candidates that are
    *  (a) past the side-specific safety window, and
    *  (b) allowed by the consistency waterline (watermark >= generatedAt;
    *      a missing watermark only permits deletion on the on-prem side —
    *      GCCoordinator.java:103-106).
    * `watermarkCol` may be null (missing token). */
  def deleteGuard(candidates: DataFrame, now: Column, generatedAtCol: String,
                  safetyWindowSeconds: Long, cloudSide: Boolean,
                  watermarkCol: String): DataFrame = {
    val pastSafety = now > (col(generatedAtCol) + expr(s"INTERVAL $safetyWindowSeconds SECONDS"))
    val waterlineOk =
      if (cloudSide) col(watermarkCol).isNotNull && !(col(watermarkCol) < col(generatedAtCol))
      else col(watermarkCol).isNull || !(col(watermarkCol) < col(generatedAtCol))
    candidates.filter(pastSafety && waterlineOk)
  }
}

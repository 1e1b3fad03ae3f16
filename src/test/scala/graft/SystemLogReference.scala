package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The DataFrame window forms of the `_system` log folds — what
  * GeoReplicationService computed before its driver views replaced them,
  * kept as the parity reference the views are checked against. */
object SystemLogReference {

  /** Latest row per `keys` of `log`, FULL original schema (ts/seq
    * retained — they order the checkpoint against post-compaction tail
    * appends). */
  def latestRows(log: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("ts").desc, col("seq").desc)
    log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** Each compactable log's checkpoint, as a function of its history. */
  val checkpoints: Map[String, DataFrame => DataFrame] = Map(
    "sync_events" -> { log => latestRows(log, Seq("event_id")) },
    // the MAX watermark per (table, region), not the latest row
    "consistency_tokens" -> { log =>
      val w = Window.partitionBy(col("table_entry"), col("region"))
        .orderBy(col("high_watermark_ms").desc, col("ts").desc, col("seq").desc)
      log.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    },
    // the latest vote per (commit, region), carrying the key's MAX deadline
    "approvals" -> { log =>
      val deadlines = log.groupBy("commit_id", "region").agg(max("deadline_ms").as("_dl"))
      latestRows(log, Seq("commit_id", "region")).drop("deadline_ms")
        .join(deadlines, Seq("commit_id", "region"), "left")
        .withColumnRenamed("_dl", "deadline_ms")
    })
}

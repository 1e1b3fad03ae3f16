package graft.service

import scala.jdk.CollectionConverters._

import graft.catalog.GraftCatalog
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.StructType

/** The latest state of one compactable `_system` log, held on the driver
  * and advanced incrementally — Iceberg's incremental append scan over an
  * event-sourced log.
  *
  * The state is one row per key: `combine(held, next)` folds a key's next
  * row into the row held for it, and the fold is idempotent, so the
  * state at a version is also that version's checkpoint. A refresh reads
  * only the manifests the head carries beyond the view's own manifest
  * list, on the driver through [[GraftCatalog.localRows]] (no Spark job);
  * this service's own appends and any other writer's arrive the same way.
  * When the head no longer extends the view's list (a compaction rewrote
  * it) the view rebuilds from the head: its checkpoint plus tail.
  *
  * [[compactAt]] writes the fold of a version as that version's
  * replacement, rebasing over appends that raced it, then expires every
  * older version of the log. Refresh, compaction and expiry hold the
  * view's lock; appends do not take it — a racing append rebases. Logs
  * are append-only: a delete manifest fails the driver read loudly. */
private[service] final class SystemLogView(sys: GraftCatalog, name: String,
                                           val schema: StructType,
                                           keyOf: Row => Any,
                                           combine: (Row, Row) => Row,
                                           maxRetries: Int) {
  private var manifests: Seq[String] = Seq.empty
  private var state: Map[Any, Row] = Map.empty

  /** Fold rows read under a recorded schema (whatever its column order)
    * into `into`, each row laid out in the view's `schema` order. */
  private def fold(into: Map[Any, Row], rows: Seq[Row]): Map[Any, Row] = {
    var layout: (StructType, Array[Int]) = (null, Array.empty)
    rows.foldLeft(into) { (m, r0) =>
      if (layout._1 ne r0.schema)
        layout = (r0.schema, schema.fieldNames.map(r0.schema.fieldNames.indexOf(_)))
      val r: Row = new GenericRowWithSchema(
        layout._2.map(i => if (i < 0) null else r0.get(i)), schema)
      val k = keyOf(r)
      m.updated(k, m.get(k).fold(r)(combine(_, r)))
    }
  }

  /** Advance to the head; the head's version (None: no version yet). */
  private def refresh(): Option[sys.Snapshot] = {
    val head = sys.latest("_system", name)
    head match {
      case None =>
        manifests = Seq.empty; state = Map.empty
      case Some(h) if h.manifests == manifests => ()
      case Some(h) =>
        state =
          if (h.manifests.startsWith(manifests))
            fold(state, sys.localRows("_system", name, h, h.manifests.drop(manifests.size)))
          else fold(Map.empty, sys.localRows("_system", name, h, h.manifests))
        manifests = h.manifests
    }
    head
  }

  /** The log's current state, one row per key. */
  def rows: Seq[Row] = synchronized { refresh(); state.values.toSeq }

  /** Compact the head (true when the log has no version yet). */
  def compact(): Boolean = synchronized {
    refresh().forall(replace(_, state))
  }

  /** Replace version `cur`'s history with its fold — the view's state when
    * the view is at `cur`, else the fold of `cur`'s rows. Returns false
    * (the caller may retry) when `cur` is gone (expired) or its manifests
    * were rewritten: the same abort either way. */
  def compactAt(cur: Long): Boolean = synchronized {
    refresh() match {
      case Some(h) if h.seq == cur => replace(h, state)
      case _ => sys.snapshots("_system", name).find(_.seq == cur).exists(b =>
        replace(b, fold(Map.empty, sys.localRows("_system", name, b, b.manifests))))
    }
  }

  /** Commit `folded`, the fold of `base`, with `rebaseOn = Some(base)`, so
    * manifests appended since ride on after it; then expire every version
    * older than the new one. */
  private def replace(base: sys.Snapshot, folded: Map[Any, Row]): Boolean =
    try {
      val snap = sys.commitReplace("_system", name,
        sys.spark.createDataFrame(folded.values.toSeq.asJava, schema),
        maxRetries = maxRetries, rebaseOn = Some(base.seq))
      sys.expireBefore("_system", name, snap.seq)
      // the checkpoint leads the new list (absent when the fold is
      // empty); the next refresh applies the tail after it
      manifests = snap.manifests.take(if (folded.isEmpty) 0 else 1)
      state = folded
      true
    } catch { case _: java.util.ConcurrentModificationException => false }
}

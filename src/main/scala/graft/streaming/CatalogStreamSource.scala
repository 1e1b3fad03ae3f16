package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructField, StructType}

import graft.catalog.GraftCatalog

/** Structured-Streaming READ of a catalog table — the Iceberg/Delta
  * streaming-source habit, closing the loop with [[CatalogStreamSink]]
  * (the write twin landed round 6):
  *
  * {{{
  *   spark.readStream
  *     .format("graft.streaming.GraftTableSourceProvider")
  *     .option("warehouse", wh).option("table", "ns.t")
  *     .load()
  * }}}
  *
  * OFFSETS ARE SNAPSHOT SEQS: each micro-batch covers the commit range
  * (fromSeq, toSeq] and reads it via the catalog's manifest-set diff —
  * O(delta) I/O, no row comparison, and deterministic under replay
  * (manifests are immutable), which is what makes checkpoint recovery
  * exactly-once end-to-end: a replayed batch re-reads exactly the same
  * files. The resolved starting seq is PERSISTED under the source's
  * checkpoint metadata dir — re-resolving `latest` on a crash-recovery
  * restart would replay the first batch against a later anchor and
  * silently lose its rows.
  *
  * Modes (`mode` option):
  *  - `appends` (default): rows of files ADDED in the range
  *    ([[GraftCatalog.readIncremental]]). A non-append commit in the
  *    range (replace/compaction/delete) FAILS the stream loudly — the
  *    manifest diff cannot represent it, and silently emitting partial
  *    rows would corrupt the consumer. (Iceberg's streaming read has
  *    the same append-only contract.)
  *  - `cdc`: [[GraftCatalog.changesBetween]] — every row carries
  *    `_change_type` ('insert' | 'delete'); non-append ranges take the
  *    documented row-level diff instead of failing.
  *
  * `starting-seq`: `latest` (default — only commits AFTER stream
  * start), `earliest`, or an explicit seq (exclusive lower bound).
  * With `earliest`, the FIRST batch is the proper SNAPSHOT read of the
  * batch's end version — deletes applied, replaces resolved (cdc tags
  * it all 'insert': initial-state-then-changes semantics) — never the
  * raw union of historical data files, which would resurrect
  * merge-on-read-deleted rows.
  *
  * Retention interacts with offsets exactly as in Iceberg: if
  * expireSnapshots removed a checkpointed BOUND of an in-flight batch
  * (either end), the source fails loudly instead of silently replaying
  * it empty or re-reading the world.
  *
  * Implementation note: this is the V1 `Source` contract (the public
  * `StreamSourceProvider` extension point) because its getBatch returns
  * a DataFrame — which lets the catalog's existing manifest-diff read
  * BE the batch, Catalyst-planned like any other scan. The DSv2
  * MicroBatchStream contract would require hand-built partition
  * readers for data parquet already reads better. */
class GraftTableSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  private def cfg(parameters: Map[String, String]): (String, String, String) = {
    val wh = parameters.getOrElse("warehouse",
      throw new IllegalArgumentException("option 'warehouse' is required"))
    val parts = parameters.getOrElse("table",
      throw new IllegalArgumentException("option 'table' is required (ns.table)"))
      .split("\\.", 2)
    require(parts.length == 2 && parts.forall(_.nonEmpty),
      s"option 'table' must be ns.table, got '${parts.mkString(".")}'")
    (wh, parts(0), parts(1))
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val (wh, ns, t) = cfg(parameters)
    val cat = new GraftCatalog(sqlContext.sparkSession, wh)
    val base = cat.tableSchema(ns, t).getOrElse(throw new IllegalStateException(
      s"$ns.$t records no schema — commit data before streaming from it"))
    val st =
      if (parameters.getOrElse("mode", "appends") == "cdc")
        StructType(base.fields.toSeq :+ StructField("_change_type", StringType))
      else base
    (shortName(), schema.getOrElse(st))
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): Source = {
    val (wh, ns, t) = cfg(parameters)
    val spark = sqlContext.sparkSession
    val cat = new GraftCatalog(spark, wh)
    val declared = sourceSchema(sqlContext, schema, providerName, parameters)._2
    val mode = parameters.getOrElse("mode", "appends")
    require(mode == "appends" || mode == "cdc",
      s"mode must be 'appends' or 'cdc', got '$mode'")
    // the EXCLUSIVE lower bound of the first batch; -1 = before v0.
    // PERSISTED on first resolution: `latest` re-resolved on a restart
    // would anchor the replayed first batch past its own rows
    val startSeq: Long = {
      val hconf = spark.sparkContext.hadoopConfiguration
      val dir = new org.apache.hadoop.fs.Path(metadataPath)
      val fs = dir.getFileSystem(hconf)
      val f = new org.apache.hadoop.fs.Path(dir, "graft-start-seq")
      // a crash mid-write could leave an empty/truncated anchor; treat
      // unparseable content as ABSENT so the stream self-heals by
      // re-resolving instead of failing every restart forever
      // anchor format `<seq>;<seq>` — the duplicated value is an
      // integrity check: two NON-atomic racing writers interleaving at
      // offset 0 can produce a byte mix that PARSES as a long (e.g.
      // "3" over "-1" → "31"), but a mix of two different `x;x` strings
      // can never reproduce the self-matching shape, so a chimera value
      // reads as corrupt (→ reclaimed) instead of anchoring the stream
      // at a seq nobody resolved
      def readValid(): Option[Long] =
        if (!fs.exists(f)) None
        else {
          val in = fs.open(f)
          val s = try new String(
            org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
          s.split(";") match {
            case Array(a, b) if a == b => scala.util.Try(a.toLong).toOption
            case _ => None
          }
        }
      // `latest` is the table's head when the query STARTED: Spark writes
      // the checkpoint's `metadata` file in `start()`, on the caller's
      // thread, but creates this source later on the stream's own thread.
      // Resolving the head here instead would skip every commit that lands
      // between the two. Without that file, the head now
      def latestAtQueryStart(): Long = {
        val meta = new org.apache.hadoop.fs.Path(dir.getParent.getParent, "metadata")
        val startedAt =
          try Some(meta.getFileSystem(hconf).getFileStatus(meta).getModificationTime)
          catch { case _: java.io.IOException => None }
        startedAt.fold(cat.latest(ns, t).map(_.seq)) { at =>
          cat.snapshots(ns, t).filter(_.timestampMs < at).map(_.seq).maxOption
        }.getOrElse(-1L)
      }
      def claim(attempt: Int): Long = {
        val resolved = parameters.getOrElse("starting-seq", "latest") match {
          case "latest"   => latestAtQueryStart()
          case "earliest" => -1L
          case n          => n.toLong
        }
        fs.mkdirs(dir)
        // publish via create(overwrite=false) — the ATOMIC CLAIM (a
        // rename would silently OVERWRITE an existing destination on
        // the local fs, letting a racing loser replace the winner's
        // anchor). A crash mid-write can leave a truncated file, which
        // readValid treats as absent — the next restart self-heals.
        try {
          val out = fs.create(f, false)
          try out.write(s"$resolved;$resolved"
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          // the local fs's create(overwrite=false) is check-then-create
          // (no O_EXCL) and the corrupt-reclaim branch can replace a
          // mid-write claim — so the FILE, not the local variable, is
          // the source of truth: re-read after close and adopt whatever
          // survived (both racers converge on the same anchor)
          readValid().getOrElse(resolveAnchor(attempt + 1))
        } catch { case _: java.io.IOException =>
          // lost the claim race — re-read the winner's value
          resolveAnchor(attempt + 1)
        }
      }
      def resolveAnchor(attempt: Int): Long = readValid().getOrElse {
        require(attempt < 60,
          s"could not publish stream start anchor $f after $attempt attempts")
        if (!fs.exists(f)) claim(attempt)
        else {
          // unparseable + exists: either a crash's truncated leftover or
          // a CONCURRENT writer mid-flush. Reclaim ONLY a provably-
          // abandoned corpse (mtime older than the grace window): a live
          // racer completes create→write→close within milliseconds, so
          // deleting a YOUNG invalid file could remove an anchor that
          // became valid between our read and the delete — its writer
          // would adopt it while we publish a different value, anchoring
          // two restarts at different seqs. An OLD invalid file's writer
          // crashed mid-write and adopted nothing, so removal is safe.
          Thread.sleep(100L)
          readValid().getOrElse {
            val stale =
              try System.currentTimeMillis() -
                fs.getFileStatus(f).getModificationTime >= 2000L
              catch { case _: java.io.FileNotFoundException => true }
            if (stale) { fs.delete(f, false); claim(attempt) }
            else resolveAnchor(attempt + 1) // writer may still be live — wait
          }
        }
      }
      resolveAnchor(0)
    }
    new GraftTableSource(cat, ns, t, declared, mode, startSeq)
  }
}

private[graft] class GraftTableSource(cat: GraftCatalog,
                                          ns: String, t: String,
                                          declared: StructType,
                                          mode: String,
                                          startSeq: Long) extends Source {
  private def spark = cat.spark

  override def schema: StructType = declared

  /** Always the TABLE's latest seq — never filtered by startSeq: on a
    * checkpoint recovery the engine compares this against the last
    * committed offset itself, and a startSeq-based filter would hide
    * commits made while the stream was down. startSeq only anchors
    * getBatch's FIRST (checkpoint-less) lower bound; a fresh stream
    * with nothing new simply runs one empty batch. */
  override def getOffset: Option[Offset] =
    cat.latest(ns, t).map(s => LongOffset(s.seq))

  // LongOffset.json is the seq; restarts hand back SerializedOffset with
  // the same json — one decoder covers both
  private def seqOf(o: Offset): Long = o.json.trim.toLong

  private def emptyBatch: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], declared)

  /** Align a batch to the DECLARED schema by name. Additive evolution
    * mid-stream keeps the stream's contract (new columns are simply not
    * emitted until a restart re-declares the schema); a DEGENERATE
    * frame — the zero-column empty result of a range that added no data
    * files, e.g. a metadata-only ALTER — becomes a schema-correct empty
    * batch. A NON-degenerate frame missing a declared column means the
    * schema changed incompatibly mid-stream (DROP COLUMN): fail loudly —
    * emitting an empty batch would silently drop the range's rows while
    * the offset still commits. */
  private def aligned(df: DataFrame): DataFrame =
    if (df.columns.isEmpty) emptyBatch
    else {
      val missing = declared.fieldNames.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"stream batch of $ns.$t lost column(s) ${missing.mkString(", ")} — " +
          "the table's schema changed incompatibly mid-stream; restart the " +
          "stream to re-declare its schema")
      // name alone isn't enough: a mid-stream ALTER COLUMN TYPE keeps the
      // name but changes the type, which would otherwise surface as an
      // opaque engine-internal assertion at batch substitution time.
      // Compare NULLABILITY-NORMALIZED types: an array<float> batch whose
      // containsNull flag differs from the declared schema's is the same
      // type (the select below adapts it), not an incompatible retype
      def norm(dt: DataType): DataType = dt match {
        case ArrayType(e, _) => ArrayType(norm(e), containsNull = true)
        case MapType(k, v, _) =>
          MapType(norm(k), norm(v), valueContainsNull = true)
        case StructType(fs) => StructType(fs.toSeq.map(f =>
          f.copy(dataType = norm(f.dataType), nullable = true)))
        case other => other
      }
      val retyped = declared.fields.toSeq.flatMap { fld =>
        df.schema.fields.find(_.name == fld.name)
          .filter(f => norm(f.dataType) != norm(fld.dataType))
          .map(got => s"${fld.name} (stream declared ${fld.dataType.sql}, " +
            s"batch has ${got.dataType.sql})")
      }
      require(retyped.isEmpty,
        s"stream batch of $ns.$t changed column type(s) " +
          s"${retyped.mkString("; ")} — the table's schema changed " +
          "incompatibly mid-stream; restart the stream to re-declare its " +
          "schema")
      df.select(declared.fields.toSeq.map(f => col(f.name)): _*)
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame =
    org.apache.spark.sql.graftbridge.ColumnBridge.asStreaming(batchDf(start, end))

  private[graft] def batchDf(start: Option[Offset], end: Offset): DataFrame = {
    val fromSeq = start.map(seqOf).getOrElse(startSeq)
    val toSeq = seqOf(end)
    if (fromSeq >= toSeq) return emptyBatch
    // a checkpointed BOUND that retention expired must fail loudly —
    // treating the start as 'missing' would re-read the whole table as
    // duplicates, and a missing END would replay an in-flight batch as
    // silently EMPTY (rows lost with the offset still committing)
    val snaps = cat.snapshots(ns, t)
    require(fromSeq == -1L || snaps.exists(_.seq == fromSeq),
      s"stream offset $fromSeq of $ns.$t no longer exists (expired by " +
        "retention) — restart the stream with a fresh checkpoint")
    require(snaps.exists(_.seq == toSeq),
      s"stream end offset $toSeq of $ns.$t no longer exists (expired by " +
        "retention) — restart the stream with a fresh checkpoint")
    if (fromSeq == -1L) {
      // the FIRST earliest batch is the SNAPSHOT at toSeq — deletes
      // applied, replaces resolved — never the raw union of historical
      // data files (which would resurrect merge-on-read-deleted rows)
      val state = cat.readVersion(ns, t, toSeq)
      return aligned(
        if (mode == "cdc") state.withColumn("_change_type", lit("insert"))
        else state)
    }
    mode match {
      case "cdc" =>
        aligned(cat.changesBetween(ns, t, fromSeq, toSeq))
      case _ =>
        require(cat.isAppendOnlyRange(ns, t, fromSeq, toSeq),
          s"commits ($fromSeq, $toSeq] of $ns.$t include a non-append " +
            "(replace/compaction/delete) — the appends stream cannot " +
            "represent it; use mode=cdc or restart from the current seq")
        aligned(cat.readIncremental(ns, t, fromSeq, toSeq))
    }
  }

  override def stop(): Unit = ()
  override def toString: String = s"GraftTableSource[$ns.$t mode=$mode]"
}
